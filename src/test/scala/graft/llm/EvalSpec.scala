package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Readability scoring and conditional-bigram-entropy semantics —
  * exact counts, NULL guards, the perfectly-predictable-text zero. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("readability counts words, sentence runs and vowel groups exactly") {
    val df = Seq((1L, "Hello world. This is fun!")).toDF("id", "text")
    val r = TextAnalysis.readability(df, col("id"), col("text")).collect().head
    assert(r.getLong(1) == 5L) // words
    assert(r.getLong(2) == 2L) // "." and "!" runs
    assert(r.getLong(3) == 6L) // he-llo(2) world(1) this(1) is(1) fun(1)
    val flesch = 206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (6.0 / 5.0)
    val fk = 0.39 * (5.0 / 2.0) + 11.8 * (6.0 / 5.0) - 15.59
    assert(math.abs(r.getDouble(4) - flesch) < 1e-12)
    assert(math.abs(r.getDouble(5) - fk) < 1e-12)
  }

  test("readability: consecutive terminators are ONE sentence run; no words or no sentences gives NULL scores") {
    val df = Seq((1L, "Wait... what?! Ok."), (2L, ""), (3L, "no terminator here"))
      .toDF("id", "text")
    val m = TextAnalysis.readability(df, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(2) == 3L) // "...", "?!", "."
    assert(m(2L).isNullAt(4) && m(2L).isNullAt(5)) // zero words
    assert(m(3L).isNullAt(4) && m(3L).isNullAt(5)) // zero sentences
  }

  test("bigram entropy is 0 for perfectly predictable transitions, exact for a known mix") {
    val df = Seq((1L, "a b a b a b"), (2L, "a b a c"), (3L, "solo"))
      .toDF("id", "text")
    val out = TextAnalysis.bigramEntropy(df, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: every a→b, b→a — H = 0; N = 5 bigrams, 2 distinct
    assert(out(1L).getLong(1) == 5L && out(1L).getLong(2) == 2L)
    assert(out(1L).getDouble(3) == 0.0)
    // doc 2: (a,b)(b,a)(a,c) — H = (2/3)·ln 2, each term floor-quantized
    val term = math.floor(1.0 / 3.0 * math.log(2.0) * 1e9)
    assert(out(2L).getDouble(3) == 2 * term / 1e9)
    // doc 3: a single token has no transitions — absent
    assert(!out.contains(3L))
  }

  test("bigram entropy folds case so transition identity matches the term pipeline") {
    val df = Seq((1L, "The the THE tHe")).toDF("id", "text")
    val r = TextAnalysis.bigramEntropy(df, col("id"), col("text")).collect().head
    assert(r.getLong(2) == 1L) // one distinct folded bigram (the,the)
    assert(r.getDouble(3) == 0.0)
  }

  test("embedOutliers: score 0 at the mean, exact z² mass off it, σ=0 dims contribute 0") {
    // dim 0: values ±1 around mean 0 (σ = 1); dim 1: constant (σ = 0)
    val df = Seq((0L, Array(1.0f, 5.0f)), (1L, Array(-1.0f, 5.0f)),
      (2L, Array(0.0f, 5.0f))).toDF("id", "v")
    val stats = Similarity.embedOutlierStats(df, col("v"))
    assert(stats(1)._3 == 0.0, "constant dim must calibrate to σ = 0")
    val out = Similarity.embedOutliers(df, col("id"), col("v"), stats)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(2L).getDouble(1) == 0.0) // exactly at the mean
    assert(out(0L).getLong(2) == 1L)    // one live dimension
    // z = (1 - 0)/σ with σ² = 2/3 → z² = 1.5, term-quantized
    val sd = math.sqrt(2.0 / 3.0)
    val want = math.floor((1.0 / sd) * (1.0 / sd) * 1e6) / 1e6
    assert(out(0L).getDouble(1) == want && out(1L).getDouble(1) == want)
  }

  test("jlProject is an exact ±1 integer combination of the quantized inputs") {
    val df = Seq((0L, Array(0.25f, -0.5f, 0.125f))).toDF("id", "v")
    val y = df.select(Similarity.jlProject(col("v"), 4).as("y"))
      .collect().head.getSeq[Long](0)
    val xq = Seq(250000L, -500000L, 125000L)
    val want = (0 until 4).map { k =>
      val s = Similarity.jlSigns(k)
      xq.zipWithIndex.map { case (x, j) => x * s(j).toLong }.sum
    }
    assert(y == want)
  }

  test("rankingMetrics: a faithful quantizer scores ndcg=mrr=1; relevance grades follow the exact ranking") {
    // UNIT vectors at well-separated angles: ADC ranks by dot product,
    // so constant norms make dot order = cosine order, and 256-bin
    // recon error (≤ range/512 per dim) stays far below the ~0.02
    // neighbor score gaps — the system ranking IS the ideal ranking
    val vecs = (0L until 12L).map { i =>
      val th = i * 0.12
      (i, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }
    val df = vecs.toDF("id", "v")
    // query 0 only: a mid-corpus query would have two EQUIDISTANT
    // neighbors (±0.12 rad) whose exact-cosine tie breaks by id while
    // ADC may order them oppositely — a legitimate ndcg < 1
    // both regimes: the single-task default and the cluster branch
    for (threshold <- Seq(Similarity.SmallRankMaxBytes, 0L)) {
      val out = Similarity.rankingMetrics(df, col("id"), col("v"),
        k = 5, queryMod = 100L, threshold).collect().map(r => r.getLong(0) -> r).toMap
      assert(out.keySet == Set(0L))
      val r = out(0L)
      assert(r.getLong(1) == 11L)          // n_cands = 12 - 1
      assert(r.getDouble(4) == 1.0, "ndcg") // perfect order
      assert(r.getDouble(5) == 1.0, "mrr")
      assert(r.getLong(6) == 5L)           // all top-5 relevant
      assert(r.getDouble(2) == r.getDouble(3)) // dcg = idcg
    }
  }

  test("rankingMetrics: the single-task regime equals the cluster branch row for row on edge rows") {
    // 16-dim corpus: a NULL id, a NULL vector (a candidate, and a query
    // at id 9), the zero vector, an 8-dim candidate, and exact ties in
    // cos and sqq (ids 4/5/6 share one vector; 10 and 11 are parallel)
    def vec(seed: Int): Array[Float] = Array.tabulate(16)(d => ((seed * 7 + d * 3) % 11 - 5) / 5f)
    val rows: Seq[(java.lang.Long, Array[Float])] = Seq(
      (0L, vec(1)), (1L, vec(2)), (2L, vec(3)), (null, vec(4)), (3L, null),
      (4L, vec(5)), (5L, vec(5)), (6L, vec(5)), (7L, new Array[Float](16)),
      (8L, vec(6).take(8)), (9L, null), (10L, vec(7)), (11L, vec(7).map(_ * 2)),
      (12L, vec(8)), (13L, vec(9)), (14L, vec(10)), (15L, vec(1)))
    val df = rows.toDF("id", "v")
    def run(frame: org.apache.spark.sql.DataFrame, k: Int, mod: Long, threshold: Long) =
      Similarity.rankingMetrics(frame, col("id"), col("v"), k, mod, threshold)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    for ((k, mod) <- Seq((3, 3L), (5, 5L), (20, 7L), (0, 3L))) {
      val small = run(df, k, mod, Similarity.SmallRankMaxBytes)
      val cluster = run(df, k, mod, 0L)
      assert(small.nonEmpty && small == cluster, s"k=$k mod=$mod\n$small\n$cluster")
    }
    val empty = df.filter(col("id") > 100L)
    assert(run(empty, 3, 3L, Similarity.SmallRankMaxBytes).isEmpty &&
      run(empty, 3, 3L, 0L).isEmpty)
    // the 8-dim vector as a QUERY reads past its end against 16-dim
    // candidates: both branches fail as ANSI element_at does
    for (threshold <- Seq(Similarity.SmallRankMaxBytes, 0L))
      intercept[Exception](run(df, 3, 8L, threshold))
  }

  test("rankingMetrics: with duplicated ids the single-task regime equals the cluster branch") {
    // query id 0 and candidate id 7 twice, each copy its own vector: the
    // copies of a query rank their candidates together in one row
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Array[Float])] =
      (Seq(0L, 0L, 7L, 7L) ++ (1L to 14L)).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("id", "v")
    def run(k: Int, threshold: Long) =
      Similarity.rankingMetrics(df, col("id"), col("v"), k, 5L, threshold)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    for (k <- Seq(3, 10)) {
      val small = run(k, Similarity.SmallRankMaxBytes)
      assert(small.map(_.head) == Seq(0L, 5L, 10L), small)
      assert(small.head(1) == 32L) // n_cands: 2 copies × 16 other rows
      assert(small == run(k, 0L), s"k=$k")
    }
  }

  test("rankingMetrics: the single task trains the SQ8 stats as the cluster branch's sqTrain does") {
    // each frame pins one training rule: a NULL-id row whose vector is
    // the longest and holds each dim's extreme, a constant dim
    // (max = min), NULL elements beside values, mixed ±0.0, ±0.0 as
    // the min, and NaN (the max of its dim)
    def vec(seed: Int, dim: Int): Seq[Option[Float]] =
      Seq.tabulate(dim)(d => Some(((seed * 5 + d * 3) % 13 - 6) / 4f))
    val base: Seq[(Option[Long], Seq[Option[Float]])] =
      (0L until 12L).map(i => (Some(i), vec(i.toInt, 6)))
    def withDim(d: Int)(f: (Long, Option[Float]) => Option[Float]) =
      base.map { case (i, v) => (i, v.updated(d, f(i.get, v(d)))) }
    val frames: Seq[(String, Seq[(Option[Long], Seq[Option[Float]])])] = Seq(
      "null id, longer vector" -> (base :+
        ((None: Option[Long]) -> Seq.tabulate(9)(d => Some(if (d % 2 == 0) 9f else -9f)))),
      "constant dim" -> withDim(2)((_, _) => Some(0.75f)),
      "null elements" -> withDim(1)((i, x) => if (i % 3 == 0) None else x),
      "signed zeros" -> withDim(3)((i, _) => Some(if (i % 2 == 0) -0.0f else 0.0f)),
      "zero is the min" -> withDim(4)((i, x) =>
        if (i % 4 == 1) Some(-0.0f) else if (i % 4 == 3) Some(0.0f) else x.map(math.abs(_) + 1f)),
      "NaN" -> withDim(5)((i, x) => if (i == 7L) Some(Float.NaN) else x))
    for ((name, rows) <- frames) {
      val df = rows.toDF("id", "v")
      def run(threshold: Long) = {
        val out = Similarity.rankingMetrics(df, col("id"), col("v"), 4, 3L, threshold)
        assert(out.queryExecution.executedPlan.toString.contains("MapPartitions") ==
          (threshold > 0), s"$name: threshold $threshold picks its branch")
        out.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      }
      val small = run(Similarity.SmallRankMaxBytes)
      assert(small.size == 4 && small == run(0L), s"$name\n$small")
    }
    // an empty vector, and a dim with no non-NULL element, fail both
    val failing = Seq(
      "empty vector" -> (base :+ (Some(20L) -> Seq.empty[Option[Float]])),
      "all-NULL dim" -> withDim(0)((_, _) => None))
    for ((name, rows) <- failing; threshold <- Seq(Similarity.SmallRankMaxBytes, 0L))
      withClue(s"$name, threshold $threshold: ")(intercept[Exception](Similarity.rankingMetrics(
        rows.toDF("id", "v"), col("id"), col("v"), 4, 3L, threshold).collect()))
  }

  test("pcaPower recovers a planted dominant direction with ~all variance explained") {
    // mass along (0.6, 0.8); tiny orthogonal jitter — the principal
    // direction is ±(0.6, 0.8) and explained ≈ 1
    val vecs = (0 until 40).map { i =>
      val a = (i % 5 + 1) * 0.1f
      val eps = (i % 3 - 1) * 0.001f
      (i.toLong, Array(0.6f * a + 0.8f * eps, 0.8f * a - 0.6f * eps))
    }
    val out = Similarity.pcaPower(vecs.toDF("id", "v"), col("v"),
      dim = 2, iters = 3)
      .orderBy("dim").collect()
    val v = out.map(_.getDouble(1))
    val sign = if (v(0) < 0) -1.0 else 1.0
    assert(math.abs(sign * v(0) - 0.6) < 0.01, s"v0 = ${v(0)}")
    assert(math.abs(sign * v(1) - 0.8) < 0.01, s"v1 = ${v(1)}")
    assert(out.head.getDouble(3) > 0.999, "explained variance ~ 1")
    assert(out.head.getDouble(2) > 0.0, "positive eigenvalue")
  }

  test("pcaPower: zero corpus degenerates to zero vector, NULL explained") {
    val df = Seq((1L, Array(0.0f, 0.0f))).toDF("id", "v")
    val out = Similarity.pcaPower(df, col("v"), dim = 2, iters = 2)
      .orderBy("dim").collect()
    assert(out.forall(r => r.getDouble(1) == 0.0))
    assert(out.forall(_.isNullAt(3)), "0/0 variance must be NULL")
  }

  test("ivfUpsert: merged incremental index is BIT-IDENTICAL to a full rebuild") {
    val vecs = (0L until 40L).map { i =>
      val th = i * 0.07
      (i, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }
    val e = vecs.toDF("id", "v")
    val cents = e.filter(col("id") < 4)
      .select(col("id").as("cid"), col("v").as("cv"))
    val base = e.filter(col("id") % 5 =!= 2)
    val delta = e.filter(col("id") % 5 === 2)
    val tombs = e.filter(col("id") % 7 === 3)
      .select(col("id").as("vec_id"))
    val assignedBase = Similarity.ivfAssignWith(base, col("id"), col("v"), cents)
    val merged = Similarity.ivfUpsert(assignedBase, delta, col("id"),
      col("v"), cents, tombs)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuild = Similarity.ivfAssignWith(
        e.filter(col("id") % 7 =!= 3), col("id"), col("v"), cents)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == rebuild, "frozen-centroid merge must equal rebuild")
    assert(!merged.exists(p => p._1 % 7 == 3), "tombstoned ids must be gone")
    assert(merged.exists(p => p._1 % 5 == 2), "delta ids must be present")
  }

  test("kCenterCoreset picks the farthest point each round, ties to the lowest id") {
    // seed = lowest id (1). Both axis vectors sit at cosine distance 1
    // from it — the tie breaks to id 2; round 2 then takes id 3 (still
    // distance 1 from BOTH chosen); the near-duplicate of the seed
    // (id 4) is never picked at k = 3
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(0.999f, 0.01f, 0.0f)))
      .toDF("id", "v")
    val out = Similarity.kCenterCoreset(vecs, col("id"), col("v"), k = 3)
      .orderBy("sel_round").collect()
    graft.core.Caches.release()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.isNullAt(2), "seed has no separation distance")
    assert(out.drop(1).forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-6),
      "orthogonal picks separate at distance 1")
  }
}
