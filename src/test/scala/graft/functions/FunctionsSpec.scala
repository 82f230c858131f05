package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Function-library semantics: the codegen'd CosineSimilarity expression
  * must agree bit-for-bit with the composed higher-order-function form
  * (SURVEY.md §7.3), and the sketch primitives must behave like their
  * definitions.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("CosineSimilarity expression == HOF cosine, bit-for-bit") {
    val df = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(0.5f, 1.0f, -1.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)), // zero norm → 0.0
      (Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f))  // identical → 1.0
    ).toDF("a", "b")
    val out = df.select(
      CosineSimilarity(col("a"), col("b")).as("expr"),
      GraftFunctions.cosine(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (e, h) => assert(e == h) } // exact, not approx
    assert(out(1)._1 == 0.0 && out(2)._1 == 1.0)
  }

  test("jaccard and hamming match hand computation") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"), 12L, 10L)).toDF("x", "y", "h1", "h2")
    val (j, h) = df.select(
      GraftFunctions.jaccard(col("x"), col("y")),
      GraftFunctions.hamming(col("h1"), col("h2")))
      .as[(Double, Int)].head()
    assert(j == 2.0 / 4.0)
    assert(h == 2) // 12=1100, 10=1010 → xor=0110
  }

  test("shingles produce overlapping windows; short docs give empty") {
    val df = Seq("a b c d", "a b").toDF("text")
    val sh = df.select(GraftFunctions.shingles(col("text"), 3).as("s")).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq.empty)
  }

  test("minhash signature: identical docs share all bands, disjoint docs differ") {
    val df = Seq(("d1", "x y z w"), ("d2", "x y z w"), ("d3", "p q r s")).toDF("id", "text")
    val sig = df.select(col("id"),
      GraftFunctions.minhashSignature(GraftFunctions.shingles(col("text"), 2), 8).as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    assert(sig("d1") == sig("d2"))
    assert(sig("d1") != sig("d3"))
  }

  test("MinHashUnion: group sketch == sketch of the concatenated group") {
    val docs = Seq(
      ("g1", "a b c d e"), ("g1", "f g h i j"),
      ("g2", "a b c d e f g h i j")) // g2 = union of g1's docs
    val df = docs.toDF("g", "text")
    val sig = GraftFunctions.minhashSignature(GraftFunctions.shingles(col("text"), 2), 8)
    val grouped = df.select(col("g"), sig.as("sig"))
      .groupBy("g").agg(graft.agg.MinHashUnion.agg(8)(col("sig")).as("gsig"))
      .as[(String, Seq[Long])].collect().toMap
    // g1's union sketch must equal g2's single-doc sketch EXCEPT for the
    // boundary shingle "e f" which only exists in the concatenation — so
    // compare against the sketch of the union of shingle sets instead
    val unionDf = Seq("a b c d e", "f g h i j").toDF("text")
      .select(sig.as("sig"))
      .agg(graft.agg.MinHashUnion.agg(8)(col("sig")).as("u"))
      .as[Seq[Long]].head()
    assert(grouped("g1") == unionDf)
    assert(grouped("g1").length == 8 && grouped("g2").length == 8)
  }

  test("HllSketchAgg: within 5% of exact distinct, and partitioning-independent") {
    val n = 20000
    val df = spark.range(n).select((col("id") % 7331).as("v")) // 7331 distinct
    val est1 = df.agg(graft.agg.HllSketchAgg.agg(col("v"))).as[Long].head()
    assert(math.abs(est1 - 7331.0) / 7331.0 < 0.05, s"estimate $est1 off by >5%")
    // register max-merge is associative+commutative+idempotent → the
    // estimate must be EXACTLY equal under any partitioning
    val est32 = df.repartition(32).agg(graft.agg.HllSketchAgg.agg(col("v"))).as[Long].head()
    val est3 = df.repartition(3, col("v")).agg(graft.agg.HllSketchAgg.agg(col("v"))).as[Long].head()
    assert(est1 == est32 && est1 == est3)
    // grouped: per-group sketches independent of each other
    val grouped = spark.range(n).select((col("id") % 3).as("g"), (col("id") % 500).as("v"))
      .groupBy("g").agg(graft.agg.HllSketchAgg.agg(col("v")).as("e"))
      .as[(Long, Long)].collect().toMap
    grouped.values.foreach(e => assert(math.abs(e - 500.0) / 500.0 < 0.1))
  }

  test("CountMinAgg: one-sided bound, exact when collision-free, partitioning-independent") {
    import graft.agg.CountMinAgg
    // 50 distinct keys, zipf-ish counts; w=512 across 4 rows makes a
    // 50-key universe collision-free in at least one row with near
    // certainty — but assert only the guarantees, not the luck
    val df = spark.range(5000).select(concat(lit("k"), col("id") % 50).as("v"))
    val exact = df.groupBy("v").count().as[(String, Long)].collect().toMap
    val cm = df.agg(CountMinAgg.agg(col("v"), 4, 512).as("cm"))
    val est = df.select(col("v")).distinct()
      .crossJoin(broadcast(cm))
      .select(col("v"), CountMinAgg.estimate(col("cm"), col("v"), 4, 512))
      .as[(String, Long)].collect().toMap
    // CM never underestimates; total over-mass per row is bounded by n
    est.foreach { case (k, e) =>
      assert(e >= exact(k), s"$k: est $e < exact ${exact(k)}")
      assert(e <= exact(k) + 5000 / 512 * 4 + 1, s"$k: est $e implausibly high")
    }
    // forced collisions (w=2): still never below exact
    val tiny = df.agg(CountMinAgg.agg(col("v"), 2, 2).as("cm"))
    val estTiny = df.select(col("v")).distinct().crossJoin(broadcast(tiny))
      .select(col("v"), CountMinAgg.estimate(col("cm"), col("v"), 2, 2))
      .as[(String, Long)].collect().toMap
    estTiny.foreach { case (k, e) => assert(e >= exact(k)) }
    // elementwise-sum merge is associative+commutative → the whole
    // counter array is EXACTLY partition-independent
    val a1 = df.agg(CountMinAgg.agg(col("v"), 4, 512)).as[Seq[Long]].head()
    val a32 = df.repartition(32).agg(CountMinAgg.agg(col("v"), 4, 512)).as[Seq[Long]].head()
    assert(a1 == a32)
    assert(a1.sum == 4L * 5000) // every occurrence lands once per row
  }

  test("TextCounts matches the HOF metrics on edge cases") {
    import graft.llm.TextAnalysis
    val df = Seq(
      "the cat and  the hat!",  // double space, punct, stopwords
      "",                        // empty
      "!!! ... ???",             // punct-only tokens
      "The AND Of",              // case-insensitive stopwords
      "a1b2 c3-d4 x"             // alnum runs split by '-'
    ).toDF("text")
    val rows = df.select(
      TextAnalysis.counts(col("text")).as("tc"),
      TextAnalysis.wordCount(col("text")).cast("long").as("w"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("a"),
      TextAnalysis.bpeTokenEstimate(col("text")).cast("long").as("b"),
      TextAnalysis.punctRatio(col("text")).as("pr"),
      TextAnalysis.stopwordRatio(col("text")).as("sr"),
      TextAnalysis.meanWordLen(col("text")).as("ml"),
      TextAnalysis.qualityScore(col("text")).as("q"))
    rows.collect().foreach { r =>
      val tc = r.getStruct(0)
      assert(tc.getAs[Long]("n_words") == r.getAs[Long]("w"))
      assert(tc.getAs[Long]("n_alnum") == r.getAs[Long]("a"))
      assert(tc.getAs[Long]("n_bpe") == r.getAs[Long]("b"))
    }
    val derived = df.select(TextAnalysis.counts(col("text")).as("tc"),
      TextAnalysis.punctRatio(col("text")).as("pr"),
      TextAnalysis.stopwordRatio(col("text")).as("sr"),
      TextAnalysis.meanWordLen(col("text")).as("ml"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .select(
        (TextAnalysis.punctRatioFrom(col("tc")) === col("pr")).as("e1"),
        (TextAnalysis.stopwordRatioFrom(col("tc")) === col("sr")).as("e2"),
        (TextAnalysis.meanWordLenFrom(col("tc")) === col("ml")).as("e3"),
        (TextAnalysis.qualityFrom(col("tc")) === col("q")).as("e4"))
      .as[(Boolean, Boolean, Boolean, Boolean)].collect()
    assert(derived.forall(t => t._1 && t._2 && t._3 && t._4))
  }

  test("sketch expressions tolerate null array elements (HOF null semantics)") {
    // null elements come from user SQL (the functions are SQL-exposed via
    // GraftExtensions): minhash/simhash skip them, rolling_hash
    // null-propagates, shingles drops them inside the window join
    val df = Seq(1).toDF("i").select(
      array(lit("a"), lit(null).cast("string"), lit("b")).as("toks"),
      array(lit(null).cast("string"), lit(null).cast("string")).as("allnull"))
    val r = df.select(
      MinHashSignature(col("toks"), 4).as("sig"),
      MinHashSignature(col("allnull"), 4).as("signull"),
      SimHash32(col("toks")).as("sh"),
      SimHash32(col("allnull")).as("shnull"),
      RollingHash(col("toks")).as("rh"),
      Shingles(col("toks"), 2).as("sg")).head()
    val skipped = df.select(
      MinHashSignature(array(lit("a"), lit("b")), 4).as("sig"),
      SimHash32(array(lit("a"), lit("b"))).as("sh")).head()
    assert(r.getSeq[Long](0) == skipped.getSeq[Long](0)) // nulls skipped
    assert(r.getSeq[Any](1).forall(_ == null))           // all-null → k nulls
    assert(r.getLong(2) == skipped.getLong(1))           // nulls cast no vote
    assert(r.isNullAt(4))                                // fold null-poisoned
    assert(r.getSeq[String](5) == Seq("a", "b"))         // array_join skip
  }

  test("hyperplaneBucket adapts to vector dim and equals full-dim prefix semantics") {
    import graft.llm.Similarity
    // a 3-dim and a 64-dim vector must both bucket via the md5-derived
    // plane components for THEIR dim (oracle adapts to len(vec))
    val v3 = Array(1.0f, -2.0f, 0.5f)
    val v64 = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val df = Seq((1L, v3), (2L, v64)).toDF("id", "v")
    val got = df.select(col("id"), Similarity.hyperplaneBucket(col("v"), 4).as("b"))
      .as[(Long, Long)].collect().toMap
    // hand-compute: dot of v against the first dim components of each plane
    def bucket(v: Array[Float]): Long =
      (0 until 4).map { h =>
        val planes = Similarity.planeComponents(h)
        val d = v.zipWithIndex.map { case (x, j) => x.toDouble * planes(j) }
          .foldLeft(0.0)(_ + _)
        if (d >= 0) 1L << h else 0L
      }.sum
    assert(got(1L) == bucket(v3) && got(2L) == bucket(v64))
  }

  test("TokenSetFingerprint == composed md5∘sort∘distinct∘tokens form") {
    val df = Seq(
      "the cat sat on the mat",
      "mat the on sat cat the", // reordering → same fingerprint
      "",                        // empty → md5("")
      "  double  spaces  here ",
      "UPPER and lower MiXeD").toDF("text")
    val rows = df.select(
      graft.llm.TextAnalysis.tokenSetFingerprint(col("text")).as("native"),
      md5(array_join(array_sort(array_distinct(
        GraftFunctions.tokens(lower(col("text"))))), " ")).as("hof"))
      .as[(String, String)].collect()
    rows.foreach { case (n, h) => assert(n == h) }
    assert(rows(0)._1 == rows(1)._1) // order-insensitive
  }

  test("kmeans separates two deterministic clusters and is reproducible") {
    import graft.llm.Similarity
    // 100 vectors: even ids point along dim 0, odd ids along dim 1, with
    // small deterministic cross-talk so no two vectors are identical
    val data = (0 until 100).map { i =>
      val main = i % 2
      val v = Array.fill(4)(0.0f)
      v(main) = 1.0f
      v(1 - main) = 0.01f * (i % 7)
      (i.toLong, v)
    }
    val df = data.toDF("vec_id", "embedding")
    val cents = Similarity.kmeans(df, col("vec_id"), col("embedding"), k = 2, iters = 3)
      .as[(Long, Array[Float], Long)].collect().sortBy(_._1)
    assert(cents.length == 2)
    val Array((_, c0, n0), (_, c1, n1)) = cents
    assert(n0 == 50 && n1 == 50)
    assert(c0(0) > 0.9f && c0(1) < 0.1f, s"centroid0 ${c0.toSeq}") // even cluster
    assert(c1(1) > 0.9f && c1(0) < 0.1f, s"centroid1 ${c1.toSeq}") // odd cluster
    // determinism: a second run yields bit-identical centroids
    val again = Similarity.kmeans(df, col("vec_id"), col("embedding"), k = 2, iters = 3)
      .as[(Long, Array[Float], Long)].collect().sortBy(_._1)
    assert(again.zip(cents).forall { case ((i1, v1, m1), (i2, v2, m2)) =>
      i1 == i2 && m1 == m2 && v1.sameElements(v2) })
  }

  test("PQ: encode is deterministic, codes index real centroids, ADC ranks sanely") {
    import graft.llm.Similarity
    // two DIRECTIONALLY-separated clusters per subspace (cosine is
    // scale-invariant, so clusters must differ in direction, not
    // magnitude) -> PQ must reconstruct cluster membership in its codes,
    // and ADC must rank same-cluster vectors above the other cluster's
    val data = (0 until 64).map { i =>
      val active = if (i % 2 == 0) 0 else 3 // dominant dim within each subspace
      val v = Array.tabulate(8)(j =>
        if (j % 4 == active) 1.0f + 0.01f * (i % 5) else 0.01f * ((i + j) % 3))
      (i.toLong, v)
    }
    val df = data.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, col("vec_id"), col("embedding"), m = 2, k = 2, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 2))
    assert(books.forall(_.forall(_._2.length == 4))) // subdim = 8/2
    val enc = Similarity.pqEncode(df, col("vec_id"), col("embedding"), books)
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    // determinism: re-encoding yields identical codes
    val enc2 = Similarity.pqEncode(df, col("vec_id"), col("embedding"), books)
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(enc.sameElements(enc2))
    // the two alternating clusters must receive distinct code pairs
    val evenCodes = enc.filter(_._1 % 2 == 0).map(e => (e._2, e._3)).toSet
    val oddCodes = enc.filter(_._1 % 2 == 1).map(e => (e._2, e._3)).toSet
    assert(evenCodes.size == 1 && oddCodes.size == 1 && evenCodes != oddCodes,
      s"clusters must encode distinctly: even=$evenCodes odd=$oddCodes")
    // ADC with vector 0 as query: every even (same-cluster) id must
    // outrank every odd one in the top-k
    val q0 = data(0)._2.toSeq
    val top = Similarity.pqAdcTopK(
      Similarity.pqEncode(df, col("vec_id"), col("embedding"), books), books, q0, k = 32)
      .as[(Long, Double)].collect()
    assert(top.length == 32 && top.forall(_._1 % 2 == 0),
      s"top-32 must be exactly the query's cluster: ${top.map(_._1).toSeq}")
  }

  test("md5Long is deterministic and salt-sensitive") {
    val df = Seq("hello").toDF("s")
    val (h0, h0b, h1) = df.select(
      GraftFunctions.md5Long(col("s")), GraftFunctions.md5Long(col("s")),
      GraftFunctions.md5Long(col("s"), salt = 1)).as[(Long, Long, Long)].head()
    assert(h0 == h0b && h0 != h1 && h0 >= 0)
  }

  test("NfcNormalize recomposes decomposed sequences; normalize unifies content hashes") {
    val decomposed = "Cafe\u0301"   // e + COMBINING ACUTE ACCENT
    val precomposed = "Caf\u00e9"  // precomposed U+00E9
    val df = Seq((1L, decomposed), (2L, precomposed)).toDF("id", "t")
    val out = df.select(col("id"), NfcNormalize(col("t")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == precomposed, s"NFC must recompose, got ${out(1L).codePoints().toArray.toSeq}")
    assert(out(1L) == out(2L))
    // end-to-end curation normalization: both spellings + control chars +
    // case converge to one content hash
    val hashes = Seq((1L, "CAFE\u0301\t"), (2L, "caf\u00e9")).toDF("id", "t")
      .select(md5(graft.llm.TextAnalysis.normalize(col("t"))).as("h"))
      .as[String].collect().toSet
    assert(hashes.size == 1, s"normalized hashes must converge: $hashes")
    // null passes through
    assert(df.select(NfcNormalize(lit(null).cast("string"))).head().isNullAt(0))
  }

  test("every native expression compiles under codegen — no interpreted fallback permitted") {
    // spark.sql.codegen.fallback=false turns a Janino failure in any
    // doGenCode into a hard error instead of a silent interpreted
    // fallback, so this test pins that the static-call codegen of every
    // expression below actually COMPILES (values are pinned elsewhere).
    // The frame comes from an RDD: a Seq-backed frame is a LocalRelation
    // that the optimizer folds the projection into, evaluated on the
    // driver by an interpreted projection with no doGenCode compiled.
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.sparkContext.parallelize(Seq(
          (1L, "the quick brown fox the lazy dog"),
          (2L, "der hund und die katze ist da"))).toDF("id", "text")
      val q = df.select(
        shingles(col("text"), 3).as("sg"),
        minhashSignature(shingles(col("text"), 3), 8).as("mh"),
        simhash32(col("text")).as("sh"),
        SimHashN(tokens(col("text")), 60).as("shn"),
        graft.llm.TextAnalysis.rollingHash(col("text")).as("rh"),
        graft.llm.TextAnalysis.tokenSetFingerprint(col("text")).as("fp"),
        graft.llm.TextAnalysis.counts(col("text")).as("tc"),
        NfcNormalize(col("text")).as("nfc"),
        LangId(col("text")).as("lang"),
        ClfStats(col("text")).as("clf"),
        BigramEntropyStats(tokens(col("text"))).as("be"),
        TokenHashBuckets(col("text"), 17, 256L).as("thb"),
        ShingleHashes(tokens(col("text")), 3).as("shh"))
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.find {
          case w: WholeStageCodegenExec => w.child.isInstanceOf[ProjectExec]
          case _ => false
        }.isDefined, s"projection must run whole-stage generated:\n$plan")
      assert(plan.find(_.isInstanceOf[LocalTableScanExec]).isEmpty,
        s"a LocalTableScan means the projection was folded on the driver:\n$plan")
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("lang") == "en" && rows(1).getAs[String]("lang") == "de")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("native tokens/tokensFolded match the HOF forms on adversarial strings") {
    import graft.functions.GraftFunctions._
    import graft.llm.TextAnalysis.foldLower
    // multi-space runs, leading/trailing spaces, tabs/newlines (NOT
    // separators), empty/blank strings, unicode incl. the İ/Σ fold
    // hazards, combining accents, all-caps ASCII
    val cases = Seq(
      "", " ", "   ", "a", " a ", "a  b   c", "\ta b\nc", "A B C",
      "İstanbul SİGMA ΣΟΦΙΑ ΑΣ τΣς", "héllo WÖRLD Straße",
      "ẞ ǅungla ǲ", "👍 emoji  test", "mixedCASE tok", "ΑΣ")
    val df = cases.toDF("t")
    val hofTokens = filter(split(col("t"), " "), x => length(x) > 0)
    val bad = df.select(col("t"),
        tokens(col("t")).as("nt"), hofTokens.as("ht"),
        tokensFolded(col("t")).as("nf"),
        transform(hofTokens, x => foldLower(x)).as("hf"))
      .filter(col("nt") =!= col("ht") || col("nf") =!= col("hf"))
      .collect()
    assert(bad.isEmpty, s"native/HOF divergence: ${bad.toSeq}")
  }

  test("native ClfStats matches the composed tokens/md5 margin on adversarial strings") {
    import graft.functions.GraftFunctions._
    val cases = Seq(
      "", " ", "   ", "a", " a ", "a  b   c", "\ta b\nc", "A B C",
      "İstanbul SİGMA ΣΟΦΙΑ ΑΣ τΣς", "héllo WÖRLD Straße",
      "slow broken spam casino", "👍 emoji  test", "the the the the")
    val df = cases.toDF("t")
    val tk = tokens(col("t"))
    val st = ClfStats(col("t"))
    val bad = df.select(col("t"),
        st.getField("n_toks").as("nn"),
        st.getField("margin_q").as("nm"),
        size(tk).cast("long").as("hn"),
        graft.llm.Selection.clfMarginQ(tk).as("hm"))
      .filter(col("nn") =!= col("hn") || col("nm") =!= col("hm"))
      .collect()
    assert(bad.isEmpty, s"native/composed clf divergence: ${bad.toSeq}")
  }

  test("native BigramEntropyStats matches the relational form per doc") {
    val docs = Seq(
      (1L, "a b a b a c"), (2L, "x"), (3L, ""), (4L, "t t t t t t t t"),
      (5L, "İ Σ İ Σ ΑΣ αΣβ"), (6L, "one two three four five six seven"),
      (7L, "a a b b a a b b c"), (8L, "p q"))
      .toDF("doc_id", "text")
    val native = graft.llm.TextAnalysis
      .bigramEntropy(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val rel = graft.llm.TextAnalysis
      .bigramEntropyRelational(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(native == rel, s"native=$native relational=$rel")
    assert(!native.contains(2L) && !native.contains(3L)) // <2 tokens drop
  }

  test("native ShingleHashes matches md5Long over native shingles, position for position") {
    import graft.functions.GraftFunctions._
    val cases = Seq(
      "", "a", "a b", "a b c", "a b c d e", " lead  spaces ",
      "İ Σ ΑΣ token İstanbul", "repeat repeat repeat repeat",
      "👍 x y z 👍")
    val df = cases.toDF("t")
    for (w <- Seq(2, 3, 8)) {
      val bad = df.select(col("t"),
          ShingleHashes(tokens(col("t")), w).as("nh"),
          transform(shingles(col("t"), w), g => md5Long(g)).as("hh"))
        .filter(col("nh") =!= col("hh"))
        .collect()
      assert(bad.isEmpty, s"w=$w divergence: ${bad.toSeq}")
    }
  }

  test("native TokenHashBuckets matches the composed md5Long form, salted and bare") {
    import graft.functions.GraftFunctions._
    val cases = Seq(
      "", " ", "a", " a b  c ", "İ Σ ΑΣ", "the quick brown fox",
      "👍 emoji  test", "x\ty z")
    val df = cases.toDF("t")
    for (salt <- Seq(0, 17); mod <- Seq(256L, 64L)) {
      val bad = df.select(col("t"),
          TokenHashBuckets(col("t"), salt, mod).as("nb"),
          transform(tokens(col("t")),
            w => md5Long(w, salt) % lit(mod)).as("hb"))
        .filter(col("nb") =!= col("hb"))
        .collect()
      assert(bad.isEmpty, s"salt=$salt mod=$mod divergence: ${bad.toSeq}")
    }
  }
}
