package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based transducer laws (SURVEY.md §5), driven by raw ScalaCheck
  * generators with deterministic seeds (each case is a Spark job, so the
  * case count is kept small): branch routing equals a plain-Scala
  * first-match reference; composed pipelines equal their sequential and
  * in-memory equivalents.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val Cases = 8
  private def sample[A](g: Gen[A], i: Int): A =
    g.apply(Gen.Parameters.default, Seed(42L + i)).get

  private val inputGen = Gen.listOfN(30, Gen.choose(-50, 50))
  private val threshGen = Gen.listOfN(3, Gen.choose(-40, 40))

  test("branch == plain-Scala first-match routing, for arbitrary inputs") {
    for (i <- 0 until Cases) {
      val xs = sample(inputGen, i); val ts = sample(threshGen, 100 + i)
      val df = xs.toDF("n")
      val preds = ts.map(t => col("n") > t)
      val got = Branch.branch(df, preds).map(_.as[Int].collect().sorted.toList)
      // reference routing: each x goes to the first i with x > ts(i)
      val want = ts.indices.map { j =>
        xs.filter(x => ts.indexWhere(x > _) == j).sorted
      }.toList
      assert(got == want, s"case $i: xs=$xs ts=$ts")
    }
  }

  test("pipeline composition is associative and equals in-memory semantics") {
    for (i <- 0 until Cases) {
      val xs = sample(inputGen, 200 + i)
      val df = xs.toDF("n")
      val f = Xform.xfilter(col("n") =!= 0)
      val g = Xform.xmap((col("n") + 1).as("n"))
      val h = Xform.xfilter(col("n") % 2 === 0)
      val all = (f andThen g andThen h)(df).as[Int].collect().sorted.toList
      val split = ((f andThen g) andThen h)(df).as[Int].collect().sorted.toList
      // Spark's % keeps the dividend sign, like Scala's %
      val manual = xs.filter(_ != 0).map(_ + 1).filter(x => x % 2 == 0).sorted
      assert(all == split && all == manual, s"case $i: xs=$xs")
    }
  }

  test("normalize is idempotent for arbitrary unicode strings") {
    // normalize(normalize(x)) == normalize(x) — the law that makes it safe
    // to re-run curation over already-curated data; generator mixes ASCII,
    // combining accents, precomposed chars and control chars
    val charGen = Gen.frequency(
      (6, Gen.alphaNumChar),
      (2, Gen.oneOf('\u00e9', '\u00c5', '\u00df', '\u00dc')),
      (1, Gen.oneOf('\u0301', '\u0300', '\u030a')), // combining accents
      (1, Gen.oneOf('\t', '\u0001', ' ')))
    val strGen = Gen.listOfN(24, charGen).map(_.mkString)
    val inputs = (0 until Cases * 4).map(i => sample(strGen, 500 + i))
    val df = inputs.toDF("t")
    import graft.llm.TextAnalysis.normalize
    val bad = df.select(col("t"), normalize(col("t")).as("n1"),
        normalize(normalize(col("t"))).as("n2"))
      .filter(col("n1") =!= col("n2"))
      .collect()
    assert(bad.isEmpty, s"normalize not idempotent on: ${bad.toSeq}")
  }

  test("packSequences equals the sequential prefix-sum reference, per shard") {
    import graft.llm.TextAnalysis
    val rowGen = Gen.zip(Gen.oneOf("en", "de", "fr"), Gen.choose(0L, 900L))
    for (i <- 0 until Cases) {
      val rows = (0 until 40).map { j =>
        val (shard, n) = sample(rowGen, i * 100 + j)
        (shard, (i * 100 + j).toLong, n)
      }
      val df = rows.toDF("shard", "doc_id", "n")
      val got = TextAnalysis.packSequences(df, col("shard"), col("doc_id"),
          col("n"), budget = 512L)
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._4, r._5)).toMap
      // reference: fold docs in doc_id order per shard, chunk every 512
      rows.groupBy(_._1).foreach { case (shard, docs) =>
        var cum = 0L
        docs.sortBy(_._2).foreach { case (_, docId, n) =>
          assert(got((shard, docId)) == (cum / 512L, cum % 512L),
            s"case $i shard=$shard doc=$docId cum=$cum got=${got((shard, docId))}")
          cum += n
        }
      }
    }
  }

  test("mixtureSample: rate 1 keeps all, rate 0 keeps none, higher rate is a superset") {
    import graft.llm.TextAnalysis
    val docs = (0 until 60).map(i => (i.toLong, s"doc text $i", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    def ids(rates: Map[String, Double]) =
      TextAnalysis.mixtureSample(docs, col("text"), col("lang"), rates, default = 0.0)
        .select("doc_id").as[Long].collect().toSet
    assert(ids(Map("en" -> 1.0, "de" -> 1.0)).size == 60)
    assert(ids(Map("en" -> 0.0, "de" -> 0.0)).isEmpty)
    assert(ids(Map("en" -> 1.0)).forall(_ % 2 == 0), "default 0 must drop de docs")
    val lo = ids(Map("en" -> 0.3, "de" -> 0.3))
    val hi = ids(Map("en" -> 0.7, "de" -> 0.7))
    assert(lo.subsetOf(hi), "thresholds are monotone: raising a rate only adds docs")
    assert(lo == ids(Map("en" -> 0.3, "de" -> 0.3)), "deterministic across runs")
  }

  test("mixtureSample and packSequences are invariant under repartitioning") {
    // the reshard-stability claim, tested: physical partitioning must not
    // change which rows are kept or which sequence a doc lands in
    import graft.llm.TextAnalysis
    val docs = (0 until 80).map(i =>
      (i.toLong, s"text body number $i", if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    def mixIds(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.mixtureSample(df, col("text"), col("lang"),
        Map("en" -> 0.6, "de" -> 0.4), default = 0.5)
        .select("doc_id").as[Long].collect().toSet
    assert(mixIds(docs) == mixIds(docs.repartition(7)))
    def packed(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packSequences(df, col("lang"), col("doc_id"),
        length(col("text")).cast("long"), budget = 64L)
        .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(packed(docs) == packed(docs.repartition(7)))
  }

  test("nearDupComponents merges transitive chains and separates disjoint ones") {
    import graft.llm.Dedup
    // chain 1: 5~7~9~11 (pairwise links only); chain 2: 20~21; isolated pair 30~31
    val pairs = Seq((5L, 7L), (7L, 9L), (9L, 11L), (20L, 21L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.nearDupComponents(pairs, col("doc_a"), col("doc_b"), iters = 5)
      .as[(Long, Long)].collect().toMap
    Dedup.releaseCaches()
    assert(Seq(5L, 7L, 9L, 11L).forall(comp(_) == 5L),
      s"chain must collapse to min label 5: $comp")
    assert(comp(20L) == 20L && comp(21L) == 20L && comp(30L) == 30L && comp(31L) == 30L,
      s"disjoint components stay separate: $comp")
  }

  test("branchTagged covers exactly the union of branch outputs") {
    for (i <- 0 until Cases) {
      val xs = sample(inputGen, 300 + i); val ts = sample(threshGen, 400 + i)
      val df = xs.toDF("n")
      val named = ts.zipWithIndex.map { case (t, j) => s"b$j" -> (col("n") > t) }
      val tagged = Branch.branchTagged(df, named)
      val routed = tagged.filter(col("branch").isNotNull).count()
      val dropped = tagged.filter(col("branch").isNull).count()
      val branchTotal = Branch.branch(df, named.map(_._2)).map(_.count()).sum
      assert(routed == branchTotal && routed + dropped == xs.size, s"case $i")
    }
  }

  // random docs over a 6-word alphabet: dense n-gram collisions, so both
  // contamination forms see real overlap structure every case
  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
  private val docGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, wordGen))
    .map(_.mkString(" "))

  test("stateless contamination gate == aggregation form, for arbitrary corpora") {
    import graft.llm.Contamination
    for (i <- 0 until Cases) {
      val docs = (0 until 14).map(j => (j.toLong, sample(docGen, 1000 + 17 * i + j)))
      val df = docs.toDF("doc_id", "text")
      val train = df.filter(col("doc_id") % 3 =!= 0)
      val bench = df.filter(col("doc_id") % 3 === 0)
      val agg = Contamination.ngramOverlap(train, col("doc_id"), col("text"),
          bench, col("doc_id"), col("text"), w = 2, minShared = 1)
        .select("train_id", "bench_id", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gate = Contamination.streamingFlags(train, col("doc_id"), col("text"),
          Contamination.benchNgrams(bench, col("doc_id"), col("text"), w = 2),
          w = 2, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gate == agg, s"case $i: gate=$gate agg=$agg docs=$docs")
    }
  }

  test("jaccardJoinPrefix == naive all-pairs join, for arbitrary corpora and thresholds") {
    import graft.llm.Dedup
    import graft.functions.GraftFunctions
    // dense-overlap docs (6-word alphabet) hit the filter's every edge:
    // boundary-J pairs, size-gate cuts, short docs with no shingles
    val thetas = Seq((1, 4), (2, 5), (3, 5), (4, 5), (1, 1))
    for (i <- 0 until Cases) {
      val docs = (0 until 12).map(j => (j.toLong, sample(docGen, 9000 + 31 * i + j)))
      val df = docs.toDF("doc_id", "text")
      val (tn, td) = thetas(i % thetas.length)
      val withSh = df.select(col("doc_id"),
        array_distinct(GraftFunctions.shingles(col("text"), 2)).as("sh"))
        .filter(size(col("sh")) > 0)
      val naive = withSh.as("a").join(withSh.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("i"),
          size(array_union(col("a.sh"), col("b.sh"))).cast("long").as("u"))
        .filter(col("i") * (td + tn) >= (col("i") + col("u")) * tn)
        .as[(Long, Long, Long, Long)].collect().toSet
      // both regimes: the single-task default and the cluster branch
      for (threshold <- Seq(graft.llm.Dedup.SmallJoinMaxBytes, 0L)) {
        val pref = Dedup.jaccardJoinPrefix(df, col("doc_id"), col("text"), tn, td, 2,
          threshold).as[(Long, Long, Long, Long)].collect().toSet
        assert(pref == naive,
          s"case $i θ=$tn/$td threshold=$threshold: pref=$pref naive=$naive docs=$docs")
      }
    }
  }

  test("bigramLmScore is invariant under repartitioning (fixed-point sums)") {
    import graft.llm.Retrieval
    for (i <- 0 until 3) {
      val docs = (0 until 10).map(j => (j.toLong, sample(docGen, 3000 + 13 * i + j)))
      val df = docs.toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        Retrieval.bigramLmScore(d, col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(run(df) == run(df.repartition(7)), s"case $i")
    }
  }

  test("LongIndex interns structured and random keys without collision") {
    import graft.core.LongIndex
    // adversarial key families: sequential, even-only (low-bit holes),
    // packed small-index pairs (the Long.hashCode killer), random
    val families: Seq[Seq[Long]] = Seq(
      (0L until 3000L),
      (0L until 3000L).map(_ * 2L),
      for (a <- 0L until 60L; b <- 0L until 50L) yield (a << 32) | b,
      (0 until 3000).map(i => sample(Gen.long, 7000 + i)),
      // past 2^16 ids: the id array grows well beyond its first sizes
      (0L until 70000L).map(i => (i << 32) | (i % 977L)))
    families.zipWithIndex.foreach { case (keys, f) =>
      val idx = new LongIndex(16) // force many rehashes
      val firsts = keys.map(idx.intern)
      assert(idx.size == keys.distinct.size, s"family $f size")
      // re-interning returns the same dense index; id() round-trips
      assert(keys.map(idx.intern) == firsts, s"family $f stability")
      assert(firsts.map(idx.id) == keys, s"family $f round-trip")
    }
  }

  test("small-regime pageRank and components match the cluster branch on a random graph") {
    // a 2000-edge random graph with hubs, multi-edges and self-loops —
    // far past the toy chains the plan tests use; both ops must produce
    // bit-identical results from the imperative and distributed regimes
    val edgeGen = Gen.listOfN(2000,
      Gen.zip(Gen.choose(0L, 300L), Gen.choose(0L, 300L)))
    val edges = sample(edgeGen, 31).toDF("a", "b")
    val prSmall = graft.graph.Graph.pageRank(edges, col("a"), col("b"), iters = 4)
      .as[(Long, Double)].collect().toMap
    val prCluster = graft.graph.Graph.pageRank(edges, col("a"), col("b"), iters = 4,
        smallGraphThreshold = 0L)
      .as[(Long, Double)].collect().toMap
    assert(prSmall == prCluster, "pageRank regimes must agree bit-for-bit")
    val ccSmall = graft.llm.Dedup.nearDupComponents(edges, col("a"), col("b"),
        iters = 4)
      .as[(Long, Long)].collect().toMap
    val ccCluster = graft.llm.Dedup.nearDupComponents(edges, col("a"), col("b"),
        iters = 4, smallGraphThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(ccSmall == ccCluster, "component regimes must agree bit-for-bit")
    Caches.release()
  }

  test("small-regime kCore and lpaCommunities match the cluster branch on a random graph") {
    // the pageRank/components graph above: hubs, multi-edges, reversed
    // duplicates and self-loops all reach the undirected edge dedup
    val edgeGen = Gen.listOfN(2000,
      Gen.zip(Gen.choose(0L, 300L), Gen.choose(0L, 300L)))
    val edges = sample(edgeGen, 31).toDF("a", "b")
    val nodes = edges.filter(col("a") =!= col("b"))
      .select(explode(array(col("a"), col("b")))).distinct().count()
    for ((k, rounds) <- Seq((3, 2), (10, 2), (13, 1))) {
      val kcSmall = graft.graph.Graph.kCore(edges, col("a"), col("b"), k, rounds)
        .as[(Long, Long)].collect().toMap
      val kcCluster = graft.graph.Graph.kCore(edges, col("a"), col("b"), k, rounds,
          smallGraphThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(kcSmall.nonEmpty, s"k=$k")
      assert(kcSmall == kcCluster, s"kCore regimes must agree (k=$k, rounds=$rounds)")
    }
    val kcPeeled = graft.graph.Graph.kCore(edges, col("a"), col("b"), 13, 1).count()
    assert(kcPeeled < nodes, "k=13 must peel some nodes, or the test pins nothing")
    val lpaSmall = graft.graph.Graph.lpaCommunities(edges, col("a"), col("b"), 3)
      .as[(Long, Long, Long)].collect().toSet
    val lpaCluster = graft.graph.Graph.lpaCommunities(edges, col("a"), col("b"), 3,
        smallGraphThreshold = 0L)
      .as[(Long, Long, Long)].collect().toSet
    assert(lpaSmall.size == nodes)
    assert(lpaSmall == lpaCluster, "lpaCommunities regimes must agree")
    Caches.release()
  }

  test("small-regime cooccurrenceTopK and adamicAdar match the cluster branch on a random bipartite graph") {
    import graft.graph.{Graph, SmallGraph}
    import org.apache.spark.sql.DataFrame
    // (context, item) edges over negative and positive ids: ~13 edges
    // per context, so repeats are common and some contexts exceed the
    // gate of 10 distinct items; a few rows carry a NULL key
    val edgeGen = Gen.listOfN(800,
      Gen.zip(Gen.choose(-30L, 30L), Gen.choose(-60L, 60L)))
    val pairs = sample(edgeGen, 53)
    val rows = pairs.map { case (c, i) => (Option(c), Option(i)) } ++
      Seq((None, Some(1L)), (Some(1L), None))
    val items = pairs.map(_._2).distinct
    assert(items != items.sorted, "first-seen item order must differ from id order")
    assert(pairs.distinct.size < pairs.size, "the graph must repeat edges")
    assert(pairs.groupBy(_._1).values.exists(_.map(_._2).distinct.size > 10),
      "some context must exceed the degree gate")
    val longKeys = rows.toDF("c", "i")
    val intKeys = longKeys.select(col("c").cast("int").as("c"),
      col("i").cast("int").as("i"))
    val cf = (e: DataFrame, k: Int, gate: Long, t: Long) =>
      Graph.cooccurrenceTopK(e, col("c"), col("i"), k, gate, smallGraphThreshold = t)
    val aa = (e: DataFrame, k: Int, gate: Long, t: Long) =>
      Graph.adamicAdar(e, col("i"), col("c"), k, gate, smallGraphThreshold = t)
    def ranked(df: DataFrame): Seq[org.apache.spark.sql.Row] =
      df.collect().toSeq.sortBy(_.getAs[Long]("rank"))
    for ((name, kernel, score) <- Seq(("cf", cf, "cosine"), ("aa", aa, "aa_score"))) {
      // a K whose last kept pair ties the first dropped one on score
      val all = ranked(kernel(longKeys, Int.MaxValue, 10L, 0L))
      val k = (20 until all.size).find(j =>
        all(j - 1).getAs[Double](score) == all(j).getAs[Double](score)).get
      for (e <- Seq(longKeys, intKeys); (topK, gate) <- Seq((k, 10L),
           (all.size + 100, 10L), (k, 1L))) {
        val small = kernel(e, topK, gate, SmallGraph.MaxInputBytes)
        val cluster = kernel(e, topK, gate, 0L)
        val label = s"$name ${e.schema("c").dataType} topK=$topK gate=$gate"
        assert(small.queryExecution.executedPlan.toString.contains("MapPartitions"),
          s"$label must take the small regime")
        assert(small.schema == cluster.schema, s"$label schema")
        val (got, want) = (ranked(small), ranked(cluster))
        assert(got == want, s"$label rows")
        assert(got.size == (if (gate == 1L) 0 else math.min(topK, all.size)), label)
        Caches.release()
      }
    }
  }

  test("interleaved Caches scopes release only their own handles") {
    import graft.core.Caches
    import org.apache.spark.storage.StorageLevel
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.storageLevel != StorageLevel.NONE
    // two queries built interleaved, each inside its own scope — the
    // failure mode the process-wide queue had: releasing A dropped B's
    // still-needed cache out from under its pending action
    val (dfA, scopeA) = Caches.scope {
      Caches.track(spark.range(100).toDF("a"))
    }
    val (dfB, scopeB) = Caches.scope {
      Caches.track(spark.range(200).toDF("b"))
    }
    dfA.count(); dfB.count() // materialize both caches
    assert(cached(dfA) && cached(dfB))
    scopeA.close()
    assert(!cached(dfA), "closing scope A must release its handle")
    assert(cached(dfB), "closing scope A must NOT release scope B's handle")
    // the global queue is independent of scopes: release() leaves
    // scoped-but-unclosed handles alone
    val dfG = Caches.track(spark.range(50).toDF("g"))
    dfG.count()
    Caches.release()
    assert(!cached(dfG) && cached(dfB))
    scopeB.close()
    assert(!cached(dfB))
    // close is idempotent; nesting restores the outer scope
    scopeB.close()
    val ((inner, innerScope), outerScope) = Caches.scope {
      Caches.scope { Caches.track(spark.range(10).toDF("i")) }
    }
    inner.count()
    outerScope.close()
    assert(cached(inner), "outer scope must not own the inner's handle")
    innerScope.close()
    assert(!cached(inner))
  }

  test("a scope whose body fails mid-construction leaks nothing") {
    import graft.core.Caches
    import org.apache.spark.storage.StorageLevel
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.storageLevel != StorageLevel.NONE
    // a concurrent query's still-needed global handle — the failing
    // scope must not push anything into the global queue where this
    // release() ordering would drop a stranger's cache mid-query
    val bystander = Caches.track(spark.range(30).toDF("g"))
    bystander.count()
    var tracked: org.apache.spark.sql.DataFrame = null
    val ex = intercept[IllegalStateException] {
      Caches.scope {
        tracked = Caches.track(spark.range(40).toDF("f"))
        tracked.count() // materialize, as a partially built query would
        throw new IllegalStateException("query construction failed")
      }
    }
    assert(ex.getMessage == "query construction failed")
    // the orphan is released by the auto-close: no pinned storage
    // survives a failed construction
    assert(!cached(tracked), "failing scope must release its own handles")
    // and the global queue holds ONLY the bystander
    assert(cached(bystander))
    Caches.release()
    assert(!cached(bystander))
    // a fresh scope on this thread still works (thread-local restored)
    val (ok, okScope) = Caches.scope { Caches.track(spark.range(5).toDF("o")) }
    ok.count()
    assert(cached(ok)); okScope.close(); assert(!cached(ok))
  }

  test("resample grid is bounded by maxBuckets per key for ARBITRARY timestamp junk") {
    // adversarial generator: epoch micros anywhere in ±10^16 (±300 years)
    // including clustered + isolated extremes — the grid must never
    // exceed maxBuckets rows per key no matter what the data does
    val tsGen = Gen.listOfN(20, Gen.oneOf(
      Gen.choose(-1000000000000000L, 1000000000000000L),
      Gen.choose(0L, 100L).map(_ * 3600000000L),      // clustered hours
      Gen.const(9000000000000000L)))                  // far-future junk
    val maxB = 16L
    for (i <- 0 until Cases) {
      val micros = sample(tsGen, 400 + i)
      val df = micros.zipWithIndex
        .map { case (u, j) => (j.toLong % 3, new java.sql.Timestamp(u / 1000), j.toDouble) }
        .toDF("k", "t", "v")
      val out = graft.agg.TimeSeries.resampleForwardFill(
        df, col("k"), col("t"), col("v"), 3600000000L, maxBuckets = maxB)
      val perKey = out.groupBy("k").count().as[(Long, Long)].collect()
      assert(perKey.forall(_._2 <= maxB),
        s"case $i: grid exceeded maxBuckets: ${perKey.toList}")
      // and the fill is total: no null v_fill anywhere (grid ends at an
      // observed bucket, first bucket per key is observed)
      assert(out.filter(col("v_fill").isNull).count() == 0, s"case $i")
    }
  }

  test("small-regime cooccurrenceTopK and adamicAdar over a joined edge frame match the cluster branch") {
    import graft.graph.{Graph, SmallGraph}
    import org.apache.spark.sql.DataFrame
    // q_item_cf's edge shape: orders ⋈ lines on the order key, the
    // (customer, part) pair projected; NULL keys on both sides, orders
    // without lines and lines without an order
    val orderGen = Gen.listOfN(300, Gen.zip(Gen.choose(0L, 299L),
      Gen.option(Gen.choose(-20L, 40L))))
    val lineGen = Gen.listOfN(900, Gen.zip(Gen.option(Gen.choose(0L, 330L)),
      Gen.option(Gen.choose(-50L, 80L))))
    val orders = sample(orderGen, 71).toDF("okey", "cust")
    val lines = sample(lineGen, 72).toDF("lkey", "part")
    val e = orders.join(lines, col("okey") === col("lkey")).select(col("cust"), col("part"))
    val kernels: Seq[(String, Long => DataFrame)] = Seq(
      "cf" -> (t => Graph.cooccurrenceTopK(e, col("cust"), col("part"), 40, 12L,
        smallGraphThreshold = t)),
      "aa" -> (t => Graph.adamicAdar(e, col("cust"), col("part"), 40, 12L,
        smallGraphThreshold = t)))
    for ((name, kernel) <- kernels) {
      val small = kernel(SmallGraph.MaxInputBytes)
      val p = small.queryExecution.executedPlan.toString
      assert(p.contains("MapPartitions") && p.contains("ShuffledHashJoin") &&
        !p.contains("Exchange"), s"$name must join and score in one task:\n$p")
      val got = small.collect().toSeq.sortBy(_.getAs[Long]("rank"))
      assert(got.size == 40, name)
      assert(got == kernel(0L).collect().toSeq.sortBy(_.getAs[Long]("rank")), name)
      Caches.release()
    }
  }

  test("sq8 codes stay in [0,255] and scores are finite for arbitrary vectors") {
    val vecGen = Gen.listOfN(12, Gen.listOfN(4,
      Gen.oneOf(Gen.choose(-100.0, 100.0), Gen.const(0.0), Gen.const(7.5))))
    for (i <- 0 until Cases) {
      val vs = sample(vecGen, 500 + i).zipWithIndex
        .map { case (v, j) => (j.toLong, v.map(_.toFloat).toArray) }
      val df = vs.toDF("vec_id", "embedding")
      val stats = graft.llm.Similarity.sqTrain(df, col("embedding"))
      assert(stats.forall { case (_, mn, mx) => mn <= mx })
      val out = graft.llm.Similarity.sq8TopK(df, col("vec_id"),
        col("embedding"), stats, vs.head._2.toSeq, k = vs.size)
        .as[(Long, Double)].collect()
      assert(out.length == vs.size)
      assert(out.forall { case (_, s) => !s.isNaN && !s.isInfinite },
        s"case $i: non-finite sq scores")
    }
  }

  test("wilson bound laws on random contingencies: in [0,1), below p-hat, monotone in evidence") {
    val nGen = Gen.choose(1L, 2000L)
    for (i <- 0 until Cases) {
      val n = sample(nGen, 500 + i)
      val k = sample(Gen.choose(0L, n), 600 + i)
      // expanding n=2000 docs per case through the public API would be
      // slow; the law lives in the shared SQL text, so test that directly
      val v = spark.sql(
        s"SELECT ${graft.llm.Selection.wilsonLbSql(k.toString, n.toString)} AS lb")
        .as[Double].collect().head
      val phat = k.toDouble / n
      assert(v >= -1e-15 && v < 1.0, s"case $i: lb=$v out of range (n=$n k=$k)")
      assert(v <= phat + 1e-15, s"case $i: lb=$v must not exceed p-hat=$phat")
      // 10x the evidence at the same fraction -> bound tightens upward
      val v10 = spark.sql(
        s"SELECT ${graft.llm.Selection.wilsonLbSql((k * 10).toString, (n * 10).toString)} AS lb")
        .as[Double].collect().head
      assert(v10 >= v - 1e-12, s"case $i: more evidence must not loosen the bound")
    }
  }

  test("kappa is symmetric in the two raters and bounded by 1 on random tables") {
    val cGen = Gen.choose(0L, 50L)
    for (i <- 0 until Cases) {
      val Seq(n11, n10, n01, n00) =
        Seq(0, 1, 2, 3).map(j => sample(cGen, 700 + 4 * i + j))
      if (n11 + n10 + n01 + n00 > 0) {
        val rows =
          Seq.fill(n11.toInt)((true, true)) ++ Seq.fill(n10.toInt)((true, false)) ++
          Seq.fill(n01.toInt)((false, true)) ++ Seq.fill(n00.toInt)((false, false))
        val df = rows.toDF("a", "b")
        val k1 = graft.llm.Selection.agreementKappa(df, col("a"), col("b"))
          .select("kappa").as[Double].collect().head
        val k2 = graft.llm.Selection.agreementKappa(df, col("b"), col("a"))
          .select("kappa").as[Double].collect().head
        // swapping raters transposes the table (n10 <-> n01): po and pe
        // are both invariant, so kappa must agree to the last ulp-ish
        if (!k1.isNaN || !k2.isNaN)
          assert(k1.isNaN == k2.isNaN ||
            math.abs(k1 - k2) < 1e-12, s"case $i: $k1 vs $k2")
        if (!k1.isNaN) assert(k1 <= 1.0 + 1e-12, s"case $i: kappa=$k1 > 1")
      }
    }
  }

  test("triangle census laws: direction/reshard invariant; count bounded by wedges/3") {
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
    for (i <- 0 until Cases) {
      val es = sample(edgeGen, 900 + i)
      val df = es.toDF("x", "y")
      val a = graft.graph.Graph.triangleStats(df, col("x"), col("y"))
        .as[(Long, Long, Long, Long, Double)].collect().head
      // flipping every edge's direction changes nothing (undirected)
      val b = graft.graph.Graph.triangleStats(df, col("y"), col("x"))
        .as[(Long, Long, Long, Long, Double)].collect().head
      assert(a == b, s"case $i: direction must not matter")
      val c = graft.graph.Graph.triangleStats(df.repartition(7), col("x"), col("y"))
        .as[(Long, Long, Long, Long, Double)].collect().head
      assert(a == c, s"case $i: reshard must not matter")
      // every triangle consumes 3 wedges
      assert(3 * a._4 <= a._3, s"case $i: 3T=${3 * a._4} > W=${a._3}")
    }
  }

  // ---- BPE trainer laws (r13 VERDICT #7): the DuckDB oracle REPLAYS the
  // same greedy chain, so a shared tie-break/merge-scan bug would pass
  // parity — these laws check the trainer against hand-computed fixtures
  // and an INDEPENDENT plain-Scala reference, plus reshard/prefix
  // invariance of the distributed argmax.

  /** Reference greedy leftmost-non-overlapping merge of one symbol seq. */
  private def refMerge(s: List[String], l: String, r: String): List[String] = {
    val b = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += (l + r); i += 2 }
      else { b += s(i); i += 1 }
    }
    b.toList
  }

  /** Reference BPE trainer over a word-count map: pair counts weighted by
    * word frequency (overlapping adjacent positions all count), argmax by
    * (n DESC, l ASC, r ASC), merge every word, repeat. */
  private def refTrain(wc: Map[String, Long], rounds: Int)
      : (List[(String, String, Long)], Map[String, List[String]]) = {
    var vocab = wc.map { case (w, _) => w -> w.map(_.toString).toList }
    val ms = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, s) =>
        s.zip(s.drop(1)).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + wc(w))
      }
      if (pairs.nonEmpty) {
        val ((l, r), n) = pairs.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        ms += ((l, r, n))
        vocab = vocab.map { case (w, s) => w -> refMerge(s, l, r) }
      }
    }
    (ms.toList, vocab.toMap)
  }

  private def trainCollect(df: org.apache.spark.sql.DataFrame, rounds: Int)
      : (List[(Long, String, String, Long)], Map[String, List[String]]) = {
    val (m, v) = graft.llm.TextAnalysis.bpeTrainWithVocab(df, col("text"), rounds)
    val ms = m.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    val vv = v.collect().map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    graft.core.Caches.release()
    (ms, vv)
  }

  test("bpe trainer: hand-computed 3-round fixture with both tie-break axes") {
    // counts: aaaa x3, abab x2, ab x4 → round 1 (a,a) n=9 beats (a,b) n=8;
    // round 2 (a,b) n=8; round 3 (aa,aa) n=3 — and 'aaaa' exercises the
    // overlapping-run greedy scan ([a,a,a,a] → [aa,aa], not [aa,a,a])
    val docs = Seq("aaaa abab ab ab", "aaaa ab", "aaaa abab ab").toDF("text")
    val (ms, vv) = trainCollect(docs, 3)
    assert(ms == List((1L, "a", "a", 9L), (2L, "a", "b", 8L), (3L, "aa", "aa", 3L)), ms)
    assert(vv("aaaa") == List("aaaa") && vv("abab") == List("ab", "ab") &&
      vv("ab") == List("ab"), vv)
    // odd run: 5 a's merge to [aa, aa, a] (run-parity), pair count 4 overlapping
    val (mo, vo) = trainCollect(Seq("aaaaa").toDF("text"), 1)
    assert(mo == List((1L, "a", "a", 4L)) && vo("aaaaa") == List("aa", "aa", "a"))
    // equal-n ties: left symbol breaks first, then right
    val (mt, _) = trainCollect(Seq("ab cd", "cd ab").toDF("text"), 1)
    assert(mt.head._2 == "a" && mt.head._3 == "b", mt)
    val (mt2, _) = trainCollect(Seq("ac ab").toDF("text"), 1)
    assert(mt2.head._2 == "a" && mt2.head._3 == "b", mt2)
  }

  test("bpe trainer: reshard invariance, prefix stability, plain-Scala replay") {
    val words = (0 until 60).map { i =>
      val r = new scala.util.Random(1234 + i)
      (0 until (2 + i % 5)).map(_ => ('a' + r.nextInt(3)).toChar).mkString
    }
    val corpus = words.grouped(6).map(_.mkString(" ")).toSeq.toDF("text")
    val (m4, v4) = trainCollect(corpus, 4)
    // resharding the corpus must not change merges or the trained vocab
    val (m4r, v4r) = trainCollect(corpus.repartition(7), 4)
    assert(m4 == m4r, s"merges drift under reshard:\n$m4\n$m4r")
    assert(v4 == v4r, "vocab drifts under reshard")
    // round-3 run is exactly round-4's prefix, and applying merge 4 to the
    // round-3 vocab reproduces the round-4 vocab (incremental law)
    val (m3, v3) = trainCollect(corpus, 3)
    assert(m4.take(3) == m3, s"merge prefix unstable:\n${m4.take(3)}\n$m3")
    val (_, l4, r4, _) = m4(3)
    assert(v3.map { case (w, s) => w -> refMerge(s, l4, r4) } == v4,
      "round-4 vocab is not merge-4 applied to round-3")
    // independent reference trainer agrees on merges AND final vocab
    val wc = words.filter(_.length >= 2).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val (refMs, refV) = refTrain(wc, 4)
    assert(m4.map(t => (t._2, t._3, t._4)) == refMs,
      s"distributed merges != reference:\n$m4\n$refMs")
    assert(v4 == refV, "distributed vocab != reference")
  }
}
