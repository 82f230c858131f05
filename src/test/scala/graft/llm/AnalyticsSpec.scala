package graft.llm

import graft.SparkSpec
import graft.agg.{Funnel, Profile}
import graft.graph.Graph
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Round-5 additions: lexical retrieval (BM25, n-grams), event-sequence
  * analytics (funnel, sessionize), profiling, PageRank, stratified
  * sampling, component representatives, and the İ/Σ case-fold parity
  * helper. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("foldLower simple-maps İ and word-final Σ like utf8proc") {
    val out = Seq("İstanbul İN ΟΔΥΣΣΕΥΣ")
      .toDF("t").select(TextAnalysis.foldLower(col("t"))).as[String].head()
    // Java's bare toLowerCase would give "i̇stanbul i̇n οδυσσευς" (combining
    // dot + final sigma ς); the fold must match DuckDB's simple mapping
    assert(out == "istanbul in οδυσσευσ")
  }

  test("bigramLmScore: Laplace-smoothed corpus bigram log-prob, quantized partials") {
    val docs = Seq((1L, "a b a b"), (2L, "a a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = Retrieval.bigramLmScore(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    // doc 3 has one token — no bigrams, no row
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // self-trained must equal the ref-trained form on the same corpus
    val ref = Retrieval.bigramLmScoreRef(docs, docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(ref.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
    // corpus: c1(a)=4, c1(b)=2, V=3 (a, b, solo); c2("a b")=2, ("b a")=1, ("a a")=1
    def part(c2: Long, c1: Long) = math.floor(math.log((c2 + 1.0) / (c1 + 3.0)) * 1e9).toLong
    val d1 = ((2L * part(2, 4) + part(1, 2)).toDouble / 1e9) / 3.0
    val d2 = (part(1, 4).toDouble / 1e9) / 1.0
    assert(out(0).getLong(1) == 3L && out(1).getLong(1) == 1L)
    assert(out(0).getDouble(2) == d1 && out(1).getDouble(2) == d2)
  }

  test("bm25 favors higher tf, normalizes by doc length, ranks deterministically") {
    val docs = Seq((1L, "the cat"), (2L, "the the dog"), (3L, "no match here"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25(docs, col("doc_id"), col("text"), Seq("the"))
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 1L)) // doc 3 has no hit
    val d2 = out(0).getDouble(1); val d1 = out(1).getDouble(1)
    // hand-computed: N=3 docs, df=2 ⇒ idf = ln(1 + 1.5/2.5); avgdl = 8/3
    // (doc 3 counts toward N and avgdl even though it scores no terms);
    // the engine quantizes each partial to floor(s·10^9)/10^9 — same JVM
    // Math.log, same op order, so the comparison is exact
    val avgdl = 8.0 / 3.0
    val idf = math.log(1.0 + 0.6)
    def q(s: Double) = math.floor(s * 1e9) / 1e9
    val e1 = q(idf * (1 * 2.2) / (1 + 1.2 * (0.25 + (0.75 * 2) / avgdl)))
    val e2 = q(idf * (2 * 2.2) / (2 + 1.2 * (0.25 + (0.75 * 3) / avgdl)))
    assert(d1 == e1 && d2 == e2)
  }

  test("bm25 folds mixed-case query terms to match the folded token stream") {
    val docs = Seq((1L, "the cat"), (2L, "the the dog")).toDF("doc_id", "text")
    def run(terms: Seq[String]) =
      Retrieval.bm25(docs, col("doc_id"), col("text"), terms)
        .as[(Long, Double)].collect().toSeq
    // "The" must not silently score 0 everywhere; "İN"-style folds go
    // through the same İ/Σ translate as the token side
    assert(run(Seq("The")) == run(Seq("the")))
    assert(Retrieval.foldLowerStr("İstanbul ΟΔΥΣΣΕΥΣ") == "istanbul οδυσσευσ")
  }

  test("rrfFuse: union membership, 1/(k+rank) sum, single-list docs, topK cut") {
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val dense = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(lex, dense, kConst = 60, topK = 10)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    // doc 20 appears in both lists and must lead; docs 10/30/40 carry a
    // single-list score with the absent arm contributing exactly 0
    assert(out.map(_._1) == Seq(20L, 10L, 40L, 30L))
    val m = out.map(r => r._1 -> r._4).toMap
    assert(m(20L) == 1.0 / 62 + 1.0 / 61)
    assert(m(10L) == 1.0 / 61 && m(40L) == 1.0 / 62 && m(30L) == 1.0 / 63)
    assert(out.find(_._1 == 40L).get._2.isEmpty) // no lexical rank
    // topK truncates after the fused ordering
    val top2 = Retrieval.rrfFuse(lex, dense, kConst = 60, topK = 2)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    assert(top2.map(_._1) == Seq(20L, 10L))
  }

  test("ngramNovelty: seen fraction zero, unseen one, mixed exact, short docs absent") {
    val ref = Seq((100L, "a b c d")).toDF("doc_id", "text") // grams: abc bcd
    val docs = Seq(
      (1L, "a b c d"),     // both grams seen → novelty 0
      (2L, "x y z w"),     // grams xyz, yzw — none seen → novelty 1
      (3L, "a b c q r"),   // abc seen; bcq, cqr unseen → 2/3
      (4L, "t u")          // no 3-grams → no row
    ).toDF("doc_id", "text")
    val out = Contamination.ngramNovelty(docs, col("doc_id"), col("text"),
        ref, col("text"), w = 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(4L))
    assert(out(1L) == ((1L, 2L, 0L, 0.0)))
    assert(out(2L) == ((2L, 2L, 2L, 1.0)))
    assert(out(3L) == ((3L, 3L, 2L, 2.0 / 3.0)))
  }

  test("corpusDiff: added/removed/changed/unchanged, NULL content by presence not hash") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]),
      (4L, "d")).toDF("doc_id", "text")
    val cur = Seq((1L, "a"), (2L, "B2"), (5L, "e"),
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(prev, cur, col("doc_id"), col("text"))
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed",  // NULL content + absent from cur is REMOVED
      4L -> "removed", 5L -> "added",
      6L -> "added"))   // NULL content + absent from prev is ADDED
  }

  test("stripMarkup: tag word-boundary, one-level entity decode, whitespace collapse") {
    val docs = Seq(
      (1L, "a<br>b <p class=\"x\">c</p>"),  // tags become word boundaries
      (2L, "x &amp;lt;raw&gt; &quot;q&quot; &#39;s&#39;"), // &amp;lt; decodes ONE level
      (3L, "w1 \t w2 \r\n w3"),
      (4L, "cafÃ© says â€™okâ€™ �")) // mojibake
      .toDF("doc_id", "text")
    val out = TextAnalysis.markupStats(docs, col("doc_id"), col("text"))
      .as[(Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "a b c" && out(1L)._3 == 3) // <br>, <p ...>, </p>
    // &amp;lt; must yield the literal text &lt;, NOT a second decode to <
    assert(out(2L)._2 == "x &lt;raw> \"q\" 's'")
    assert(out(3L)._2 == "w1 w2 w3")
    assert(out(4L)._4 == 4 && out(4L)._5) // Ã, â€ ×2, � (Ã inside café's Ã©)
    assert(out(1L)._4 == 0 && !out(1L)._5)
  }

  test("jaccardJoinPrefix: exact integer threshold, boundary pair kept, below-threshold cut") {
    val docs = Seq(
      (1L, "a b c d e f"), // shingles: abc bcd cde def
      (2L, "a b c d e x"), // inter 3, union 5 → J = 3/5 exactly
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val at35 = Dedup.jaccardJoinPrefix(docs, col("doc_id"), col("text"), 3, 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // the boundary pair (J exactly = θ) must be KEPT — ≥, not >
    assert(at35 == Seq((1L, 2L, 3L, 5L)))
    // a strictly tighter threshold drops it
    val at23 = Dedup.jaccardJoinPrefix(docs, col("doc_id"), col("text"), 2, 3)
      .collect()
    assert(at23.isEmpty)
  }

  test("jaccardJoinPrefix: the single-task regime equals the cluster branch row for row on edge rows") {
    // a NULL id, a NULL text, texts shorter than w = 3 tokens, exact
    // duplicates (J = 1), pairs either side of θ = 2/5, and ids 11 and
    // 12 twice with a different text per copy
    val rows: Seq[(java.lang.Long, String)] = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e x"), (3L, "a b c d e f"),
      (null, "a b c d e f"), (4L, null), (5L, "a b"), (6L, ""), (7L, "a b c"),
      (8L, "c d e f g h i"), (9L, "p q r s t u"), (10L, "p q r s t v w"),
      (11L, "a b c d e f"), (11L, "a b c d e g h"), (12L, "x y z a b c d"),
      (12L, "a b c d e f g"), (13L, "x y z a b c"))
    val docs = rows.toDF("doc_id", "text")
    def run(frame: org.apache.spark.sql.DataFrame, threshold: Long) =
      Dedup.jaccardJoinPrefix(frame, col("doc_id"), col("text"), 2, 5, 3, threshold)
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val small = run(docs, Dedup.SmallJoinMaxBytes)
    assert(small.exists(_._1 == 11L) && small.exists(_._2 == 13L))
    assert(small == run(docs, 0L))
    val empty = docs.filter(col("doc_id") > 100L)
    assert(run(empty, Dedup.SmallJoinMaxBytes).isEmpty && run(empty, 0L).isEmpty)
  }

  test("jaccardJoinPrefix recall 1: matches the naive all-pairs join on a shared-vocab corpus") {
    // overlapping sliding windows of one token stream — adjacent docs
    // share most shingles, distant docs share few: pairs at every J
    val stream = (0 until 60).map(i => s"t${i % 17}")
    val docs = (0L until 30L).map { d =>
      (d, stream.slice(d.toInt, d.toInt + 12).mkString(" "))
    }.toDF("doc_id", "text")
    val pref = Dedup.jaccardJoinPrefix(docs, col("doc_id"), col("text"), 2, 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    // naive truth: exact Jaccard over every pair, same integer predicate
    val withSh = docs.select(col("doc_id"),
      array_distinct(graft.functions.GraftFunctions.shingles(col("text"), 3)).as("sh"))
    val naive = withSh.as("a").join(withSh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("i"),
        size(array_union(col("a.sh"), col("b.sh"))).cast("long").as("u"))
      .filter(col("i") * 7 >= (col("i") + col("u")) * 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(naive.nonEmpty && pref == naive)
    // and the LSH-banded variant can only ever be a subset (recall < 1)
    val lsh = Dedup.nearDupPairs(docs, col("doc_id"), col("text"), 0.4)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(pref.map(p => (p._1, p._2))))
  }

  test("ngramCounts returns top bigrams with deterministic ties") {
    val docs = Seq("a b a b c", "a b x").toDF("text")
    val out = Retrieval.ngramCounts(docs, col("text"), n = 2, topK = 3)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("funnel requires strictly ordered steps per user") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, t(1), "view"), (1L, t(2), "click"), (1L, t(3), "purchase"),
      (2L, t(5), "click"), (2L, t(6), "view"), // click BEFORE view: no stage 2
      (3L, t(1), "view"), (3L, t(1), "click")  // same ts: not strictly after
    ).toDF("user_id", "ts", "event_type")
    val out = Funnel.funnel(ev, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
      .select(col("user_id"), col("stage")).as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("sessionize starts a new session at the gap boundary") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val ev = Seq(
      (1L, 10L, t(0)), (1L, 11L, t(10)), (1L, 12L, t(45)), // 35min gap
      (2L, 20L, t(0))
    ).toDF("user_id", "event_id", "ts")
    val out = Funnel.sessionize(ev, col("user_id"), col("ts"), col("event_id"),
        gapMinutes = 30)
      .select(col("event_id"), col("session_seq")).as[(Long, Long)]
      .collect().toMap
    assert(out == Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 20L -> 1L))
  }

  test("profile counts nulls, distincts and numeric ranges in one pass") {
    val df = Seq((Some(1), Some("a"), Some(1.5)), (Some(1), None, Some(2.5)),
        (None, Some("b"), None))
      .toDF("k", "s", "v")
    val out = Profile.profile(df, Seq("k", "s", "v"), numeric = Set("k", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("k").getLong(1) == 3 && out("k").getLong(2) == 1 &&
      out("k").getLong(3) == 1)
    assert(out("s").getLong(2) == 1 && out("s").getLong(3) == 2 &&
      out("s").isNullAt(4))
    assert(out("v").getDouble(4) == 1.5 && out("v").getDouble(5) == 2.5)
  }

  test("bigramLmScoreRef trains on the reference corpus; unseen bigrams take the Laplace prior") {
    val ref = Seq((1L, "a b a b")).toDF("doc_id", "text")  // c("a b")=2, c("b a")=1, V=2
    val target = Seq((10L, "a b c")).toDF("doc_id", "text") // "a b" seen, "b c" unseen
    val out = Retrieval.bigramLmScoreRef(ref, target, col("doc_id"), col("text"))
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 10L &&
      out.head.getLong(1) == 2L)
    // ln((2+1)/(2+2)) for "a b"; ln((0+1)/(2+2)) for unseen "b c"
    val expected = (math.floor(math.log(3.0 / 4.0) * 1e9) +
      math.floor(math.log(1.0 / 4.0) * 1e9)) / 1e9 / 2.0
    assert(out.head.getDouble(2) == expected)
  }

  test("pageRank ranks sink-heavy nodes highest and is repartition-invariant") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Graph.pageRank(df, col("s"), col("d"), iters = 2)
        .as[(Long, Double)].collect().toMap
    val pr = run(e)
    assert(pr(3L) > pr(2L) && pr(2L) > pr(1L))
    // fixed-point LONG sums make the result independent of partitioning
    assert(run(e.repartition(7)) == pr)
  }

  test("pageRank values are identical across join strategy and checkpointing choices") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("s", "d")
    def run(threshold: Long, ckpt: Int): Map[Long, Double] =
      Graph.pageRank(e, col("s"), col("d"), iters = 6,
          smallGraphThreshold = threshold, checkpointEvery = ckpt)
        .as[(Long, Double)].collect().toMap
    val broadcastPlan = run(1000000L, 0) // small-graph branch
    // the fixed-point recurrence makes strategy (broadcast vs
    // shuffle_hash) and lineage checkpointing value-invariant
    assert(run(0L, 0) == broadcastPlan, "shuffle_hash branch must match")
    assert(run(1000000L, 2) == broadcastPlan, "checkpointed run must match")
    graft.core.Caches.release()
  }

  test("nearDupComponents with checkpointEvery bounds deep-recurrence lineage, same labels") {
    // a 12-node chain needs 11 propagation rounds to converge — the
    // deep-recurrence regime checkpointEvery exists for. An UNcheckpointed
    // 12-round run is infeasible by design: the label vector is
    // referenced twice per round, so the logical plan TREE doubles per
    // round (2^12 ≈ 4096× — analysis-time blowup the persist alone can't
    // fix); two different checkpoint cadences must agree with each other
    // and with the known converged labels
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // threshold 0 forces the CLUSTER branch — this test exists to
    // exercise the distributed recurrence's lineage checkpointing
    def labels(iters: Int, ckpt: Int): Map[Long, Long] = {
      val m = Dedup.nearDupComponents(pairs, col("doc_a"), col("doc_b"),
          iters, smallGraphThreshold = 0L, checkpointEvery = ckpt)
        .as[(Long, Long)].collect().toMap
      Dedup.releaseCaches()
      m
    }
    val deep = labels(12, 3)
    assert((0L to 11L).forall(deep(_) == 0L), s"chain must converge to 0: $deep")
    assert(labels(12, 2) == deep, "checkpoint cadence must not change labels")
    // the imperative small-graph branch (default threshold) must
    // produce the identical label vector
    val small = Dedup.nearDupComponents(pairs, col("doc_a"), col("doc_b"),
      iters = 12).as[(Long, Long)].collect().toMap
    assert(small == deep, "small-regime labels must match the cluster branch")
  }

  test("stratifiedSample keeps exactly n per group, stable under resharding") {
    val docs = (0 until 40).map(i => (i.toLong, s"doc text $i", s"g${i % 3}"))
      .toDF("doc_id", "text", "source")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      TextAnalysis.stratifiedSample(df, col("source"), col("text"),
          col("doc_id"), n = 4)
        .select(col("source"), col("doc_id")).as[(String, Long)].collect().toSet
    val s1 = ids(docs)
    assert(s1.groupBy(_._1).forall(_._2.size == 4))
    assert(ids(docs.repartition(11)) == s1)
  }

  test("componentRepresentatives keeps the best-quality member per component") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "component")
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (9L, 0.1))
      .toDF("doc_id", "quality")
    val out = Dedup.componentRepresentatives(comps, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // quality tie between docs 2 and 3 breaks to the lower doc_id
    assert(out == Map(1L -> ((2L, 3L)), 9L -> ((9L, 1L))))
  }

  test("lineDedup drops lines recurring past maxDocs, keeps order, keeps empty docs") {
    val docs = Seq(
      (1L, "nav bar\nbody one\nshared quote"),
      (2L, "body two\nnav bar\nshared quote"),
      (3L, "nav bar\nbody three"),
      (4L, "nav bar\nnav bar")) // all boilerplate, nav twice in ONE doc
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, col("doc_id"), col("text"), maxDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_kept", "n_total")
      .as[(Long, String, Long, Long)].collect()
    // "nav bar" is in 3 distinct docs (doc 4's repeat counts once) →
    // dropped; "shared quote" is in exactly 2 → kept at the boundary
    assert(out(0) == ((1L, "body one\nshared quote", 2L, 3L)))
    assert(out(1) == ((2L, "body two\nshared quote", 2L, 3L)))
    assert(out(2) == ((3L, "body three", 1L, 2L)))
    assert(out(3) == ((4L, "", 0L, 2L))) // survives as an empty row
  }

  test("maskFrequentNgrams masks span-union of over-df grams, zero-mask docs survive") {
    // w=2, maxDf=1: a bigram in MORE than 1 distinct doc is masked.
    // "the cat" appears in docs 1,2 (doc 2 twice — df counts docs, not
    // occurrences); "sat down" only in doc 1; doc 3 shares nothing.
    val docs = Seq(
      (1L, "the cat sat down"),            // "the cat" masks idx {0,1}
      (2L, "I saw the cat the cat"),       // grams at pos 2 and 4 → idx {2,3,4,5}
      (3L, "totally unrelated words"),     // nothing masked
      (4L, "one")) // shorter than w → no grams, n_masked 0
      .toDF("doc_id", "text")
    val out = Dedup.maskFrequentNgrams(docs, col("doc_id"), col("text"),
      w = 2, maxDf = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_masked", "mask_frac")
      .as[(Long, Long, Long, Double)].collect()
    // doc 2: "the cat" at pos 2 AND pos 4, plus "cat the" at pos 3 is
    // single-doc → spans [2,4)∪[4,6) = 4 masked of 6
    assert(out(0) == ((1L, 4L, 2L, 0.5)))
    assert(out(1) == ((2L, 6L, 4L, 4.0 / 6.0)))
    assert(out(2) == ((3L, 3L, 0L, 0.0)))
    assert(out(3) == ((4L, 1L, 0L, 0.0)))
    Dedup.releaseCaches()
  }

  test("semDedup: centrality-ranked eps-screen within clusters, exists not closure") {
    def v(a: Double) = Array(math.cos(math.toRadians(a)).toFloat,
      math.sin(math.toRadians(a)).toFloat)
    // cluster 0: unit vectors at 0°/18°/36°; cluster 1: one vector at 90°
    val df = Seq((1L, v(0)), (2L, v(18)), (3L, v(36)), (4L, v(90)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, v(0)), (1L, v(90))).toDF("cid", "cv")
    val eps = math.cos(math.toRadians(25)) // 18° apart = dup, 36° = distinct
    val out = Dedup.semDedup(df, col("vec_id"), col("embedding"), cents, eps)
      .orderBy("vec_id").as[(Long, Long, Long, Boolean)].collect()
    assert(out(0) == ((1L, 0L, 1L, true))) // rank-1 exemplar always survives
    assert(out(1) == ((2L, 0L, 2L, false))) // within eps of row 1
    // row 2 being dropped does NOT shield row 3 (exists-semantics, not
    // closure): row 3 is within eps of the higher-ranked row 2
    assert(out(2) == ((3L, 0L, 3L, false)))
    assert(out(3) == ((4L, 1L, 1L, true))) // alone in its cluster
    Dedup.releaseCaches()
  }

  test("d4: prototypicality pruning drops the most-central survivors AFTER the dedup screen") {
    def v(a: Double) = Array(math.cos(math.toRadians(a)).toFloat,
      math.sin(math.toRadians(a)).toFloat)
    // cluster 0 (centroid 0°): 0°/40°/80°/−40° are pairwise > 25° apart
    // (all survive dedup); 1° is a near-dup of 0° (sem-dropped). The
    // four survivors re-rank 1,2,4,3 by centrality; floor(0.25·4) = 1
    // prunes exactly the rank-1 exemplar (the densest-region pick).
    val df = Seq((1L, v(0)), (2L, v(40)), (3L, v(80)), (4L, v(-40)),
      (5L, v(1))).toDF("vec_id", "embedding")
    val cents = Seq((0L, v(0))).toDF("cid", "cv")
    val out = Dedup.d4(df, col("vec_id"), col("embedding"), cents,
      eps = math.cos(math.toRadians(25)), protoFrac = 0.25)
      .orderBy("vec_id").as[(Long, Long, Boolean, Boolean)].collect()
    assert(out(0) == ((1L, 0L, true, false)),
      "most prototypical survivor must be pruned")
    assert(out(1) == ((2L, 0L, true, true)))
    assert(out(2) == ((3L, 0L, true, true)))
    assert(out(3) == ((4L, 0L, true, true)))
    assert(out(4) == ((5L, 0L, false, false)),
      "a sem-dropped row stays dropped and never re-enters the proto rank")
    Dedup.releaseCaches()
  }

  test("perplexityBuckets: per-language terciles by LM score, integer bucket math") {
    // six docs in one language, graded bigram repetitiveness so scores
    // are distinct; a null-lang doc and a one-token doc carry no signal
    val docs = Seq(
      (1L, "a a a a a a a a", "en"),
      (2L, "a a a a b b b b", "en"),
      (3L, "a a b b c c d d", "en"),
      (4L, "a b c d e f g h", "en"),
      (5L, "h g f e d c b a", "en"),
      (6L, "x y z w q r s t", "en"),
      (7L, "a a a a", null),
      (8L, "solo", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Retrieval.perplexityBuckets(docs, col("doc_id"), col("text"),
      col("lang")).as[(Long, String, Double, String)].collect()
    assert(out.length == 6, "null-lang and bigram-free docs emit no row")
    val byBucket = out.groupBy(_._4).view.mapValues(_.map(_._3).toSeq).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").size == 2 && byBucket("middle").size == 2 &&
      byBucket("tail").size == 2)
    // strata are ordered: every head score >= every middle >= every tail
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // the all-one-bigram doc is the definitional head pick
    assert(out.find(_._1 == 1L).get._4 == "head")
  }

  test("semDedup tractability: keep-set repartition-invariant; pair work linear when k grows with N") {
    import org.apache.spark.sql.DataFrame
    def ring(n: Int): DataFrame =
      (0 until n).map { i =>
        // golden-ratio (low-discrepancy) angles: any id prefix covers the
        // circle uniformly, so the lowest-id k-means seeds start spread
        // out. Sequential angles would be an adversarial seeding (all
        // seeds in one arc → two giant boundary clusters) — that tests
        // the seeder, not the screen's scaling mechanism
        val a = 2 * math.Pi * ((i * 0.6180339887498949) % 1.0)
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("vec_id", "embedding")

    def run(n: Int, parts: Int): (Set[(Long, Boolean)], Long) = {
      val df = ring(n).repartition(parts)
      // k scales with the corpus (the paper's tractability lever):
      // n/8 clusters keep expected cluster size constant as n grows
      val cents = Similarity.kmeans(ring(n), col("vec_id"), col("embedding"),
        k = n / 8, iters = 3).select(col("cid"), col("cv"))
      val out = Dedup.semDedup(df, col("vec_id"), col("embedding"), cents,
        eps = math.cos(math.toRadians(2)))
        .select("vec_id", "cid", "kept")
        .as[(Long, Long, Boolean)].collect()
      Dedup.releaseCaches()
      val pairs = out.groupBy(_._2).values
        .map(c => c.size.toLong * (c.size - 1) / 2).sum
      (out.map(r => (r._1, r._3)).toSet, pairs)
    }

    // 1. verdicts must not depend on physical partitioning (the shuffle
    // keys are cid/vec_id; ranking ties break on vec_id, never on
    // partition order)
    val (keepA, pairs64) = run(64, 3)
    val (keepB, _) = run(64, 11)
    assert(keepA === keepB, "keep-set must be invariant under repartitioning")

    // 2. the screen's pair count must scale LINEARLY in n when k ∝ n —
    // quadratic (all-pairs or k fixed) would grow 16× here; allow 2×
    // slack over linear for cluster imbalance
    val (_, pairs256) = run(256, 5)
    assert(pairs256 <= 8 * pairs64,
      s"pair work grew super-linearly: $pairs64 -> $pairs256")
    // and it must be far below the quadratic ceiling at n=256
    assert(pairs256 < 256L * 255 / 8,
      s"per-cluster screen degenerated toward all-pairs: $pairs256")
  }

  test("temperatureSample: √-flattened data-derived rates, reshard-stable, budget-shaped") {
    // 4096 'en' docs vs 64 'de' docs: √-temperature boosts the small
    // group's keep RATE above the big group's (4096:64 = 64:1 by count,
    // 8:1 by √ weight → de's per-doc rate is 8x en's)
    val docs = ((0 until 4096).map(i => (i.toLong, s"en doc $i", "en")) ++
      (0 until 64).map(i => (10000L + i, s"de doc $i", "de")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.temperatureSample(docs, col("text"), col("lang"),
      budgetFrac = 0.5)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val en = out.count(_._2 == "en").toDouble / 4096
    val de = out.count(_._2 == "de").toDouble / 64
    assert(de > en, s"small group must keep a higher rate (en=$en de=$de)")
    // derived rates: en ≈ 0.5·(8/9)·(4160/4096) ≈ 0.451, de = 1 (capped:
    // 0.5·(1/9)·(4160/64) ≈ 3.6 > 1) — the md5 gate realizes them within
    // sampling noise, and the whole-group cap keeps every de doc
    assert(de == 1.0, "a group whose target exceeds its size is kept whole")
    assert(math.abs(en - 0.451) < 0.05)
    // reshard invariance: the kept SET is a pure content-hash function
    val out2 = TextAnalysis.temperatureSample(docs.repartition(7), col("text"),
      col("lang"), budgetFrac = 0.5)
      .select("doc_id", "lang").as[(Long, String)].collect()
    assert(out.toSet == out2.toSet)
  }

  test("sq8: per-dim calibration, byte round-trip error bounded, constant dims safe") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 5.0f)),   // query; dim 2 is constant
      (1L, Array(0.9f, 0.1f, 5.0f)),
      (2L, Array(-1.0f, 1.0f, 5.0f)),
      (3L, Array(0.5f, 0.5f, 5.0f)))
      .toDF("vec_id", "embedding")
    val stats = Similarity.sqTrain(vecs, col("embedding"))
    assert(stats.map(_._1) == Seq(0, 1, 2))
    assert(stats(0) == ((0, -1.0, 1.0)) && stats(2) == ((2, 5.0, 5.0)))
    val out = Similarity.sq8TopK(vecs, col("vec_id"), col("embedding"),
      stats, Seq(1.0f, 0.0f, 5.0f), k = 4)
      .as[(Long, Double)].collect()
    // ranking matches exact dot order (0: ~1+25, 1: ~0.9+25, 3: 0.5+25,
    // 2: -1+25) — quantization noise (≤ bin/2 per dim) can't reorder
    // gaps this wide; the constant dim reconstructs to code 0's bin
    // center without dividing by zero
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 3L, 2L))
    // score error vs exact dot bounded by Σ_d |q_d|·(range_d/512) + lsb
    val exact = Map(0L -> 26.0, 1L -> (0.9 + 25.0), 3L -> (0.5 + 25.0), 2L -> 24.0)
    out.foreach { case (id, s) =>
      // dim0 range 2/512 ≈ 0.004, dim1 range 1/512 ≈ 0.002, dim2 exact0
      assert(math.abs(s - exact(id)) < 0.01, s"id=$id score=$s")
    }
  }

  test("perplexityBucketsApprox agrees with the exact terciles away from cut points") {
    // 90 docs, one language, STRICTLY increasing repetitiveness (one
    // more repeated bigram per doc) → strictly graded scores; the
    // sketch at high accuracy should label ≈ everything like the exact
    // row_number form (disagreement only AT a cut point)
    val docs = (0 until 90).map { i =>
      val rep = "a a " * i
      (i.toLong, s"${rep}w$i x$i y$i z$i", "en")
    }.toDF("doc_id", "text", "lang")
    val ex = Retrieval.perplexityBuckets(docs, col("doc_id"), col("text"),
      col("lang")).select("doc_id", "bucket")
      .as[(Long, String)].collect().toMap
    val ap = Retrieval.perplexityBucketsApprox(docs, col("doc_id"), col("text"),
      col("lang")).select("doc_id", "bucket")
      .as[(Long, String)].collect().toMap
    assert(ap.keySet == ex.keySet)
    val agree = ex.count { case (id, b) => ap(id) == b }
    assert(agree >= ex.size - 4,
      s"sketch strata must match exact terciles away from boundaries: $agree/${ex.size}")
    // and the approx form emits all three strata in roughly thirds
    val sizes = ap.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set("head", "middle", "tail"))
    assert(sizes.values.forall(s => s >= 20 && s <= 40), sizes.toString)
  }

  test("unigramKlDrift: a drifted source scores higher; a corpus-like one near zero") {
    // 'steady' matches the corpus-wide distribution almost exactly (it
    // IS most of the corpus); 'drifted' is a disjoint vocabulary
    val base = (0 until 200).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon tok$i", "steady"))
    val drift = (0 until 20).map(i =>
      (1000L + i, "zzz qqq xxx www vvv", "drifted"))
    val docs = (base ++ drift).toDF("doc_id", "text", "source")
    val out = TextAnalysis.unigramKlDrift(docs, col("text"), col("source"))
      .as[(String, Double)].collect().toMap
    assert(out.keySet == Set("steady", "drifted"))
    assert(out("drifted") > 5 * math.max(out("steady"), 1e-6),
      s"disjoint vocabulary must dominate: $out")
    assert(out("steady") >= -1e-6 && out("drifted") > 0.0,
      s"KL is non-negative up to quantization lsb: $out")
  }

  test("piiScrub masks email→phone→IP sequentially with per-doc counts") {
    val docs = Seq(
      (1L, "mail a.b@c.org call 555-123-4567 host 10.0.0.1"),
      (2L, "phone-shaped IP 192.168.100.2000 stays phone-claimed"),
      (3L, "no pii at all")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out(0) == ((1L, "mail <EMAIL> call <PHONE> host <IP>", 1L, 1L, 1L)))
    // the PHONE pass runs before IP and claims 168.100.2000 leftmost
    assert(out(1) == ((2L, "phone-shaped IP 192.<PHONE> stays phone-claimed", 0L, 1L, 0L)))
    assert(out(2) == ((3L, "no pii at all", 0L, 0L, 0L)))
  }

  test("containmentJoin is directional: snippet⊂page found, reverse and Jaccard miss it") {
    val page = (0 until 40).map(i => s"w$i").mkString(" ")
    val snippet = (10 until 20).map(i => s"w$i").mkString(" ") // fully inside
    val docs = Seq((1L, snippet), (2L, page), (3L, "x y z q r s"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentJoin(docs, col("doc_id"), col("text"), 3, 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // snippet (8 shingles, all shared) is contained in page (38 shingles):
    // C(1→2) = 8/8 = 1 ≥ 3/5; C(2→1) = 8/38 < 3/5 — one direction only
    assert(out == Seq((1L, 2L, 8L, 8L, 38L)))
    // symmetric Jaccard at the same threshold sees nothing: J = 8/38
    assert(Dedup.jaccardJoinPrefix(docs, col("doc_id"), col("text"), 3, 5)
      .collect().isEmpty)
  }

  test("containmentJoin boundary: inter·m ≥ s_a·n kept at exact equality") {
    // A = 5 shingles, 3 shared with B ⇒ C = 3/5 exactly — must be kept
    val a = "a b c d e f g"            // 5 shingles: abc..efg
    val b = "a b c d e x1 x2 p q r s"  // shares abc bcd cde (3)
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val rows = Dedup.containmentJoin(docs, col("doc_id"), col("text"), 3, 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.contains((1L, 2L, 3L, 5L, 9L)))
    // and 2/3 (stricter) drops it
    assert(!Dedup.containmentJoin(docs, col("doc_id"), col("text"), 2, 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
      .contains((1L, 2L, 3L, 5L, 9L)))
  }

  test("winnowing guarantee: shared run of window+w-1 tokens ⇒ shared fingerprint") {
    // SWA: any common substring of length ≥ window + shingleW − 1 = 6
    // tokens must produce ≥1 common selected fingerprint
    val shared = "s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared a4 a5"),
      (2L, s"b1 $shared b2 b3 b4 b5"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, col("doc_id"), col("text"),
      minShared = 1, window = 4, shingleWidth = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    // density: selected ≤ grams, and short docs keep every hash
    val stats = Dedup.winnowStats(docs, col("doc_id"), col("text"),
      window = 4, shingleWidth = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(stats.values.forall(s => s._3 <= s._2 && s._3 > 0))
    val tiny = Seq((9L, "t1 t2 t3 t4")).toDF("doc_id", "text") // 2 grams < window
    val ts = Dedup.winnowStats(tiny, col("doc_id"), col("text"), 4, 3)
      .as[(Long, Long, Long)].head()
    assert(ts == ((9L, 2L, 2L))) // below one window: all hashes kept
  }

  test("pq subvector slicing raises on dim not divisible by m") {
    val bad = Seq((1L, Array(1f, 2f, 3f, 4f, 5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pqTrain(bad, col("vec_id"), col("embedding"), m = 2, k = 1,
        iters = 1)
    }
    assert(ex.getMessage.contains("not divisible") ||
      Option(ex.getCause).exists(_.getMessage.contains("not divisible")))
  }

  // ----------------------------------------------------- cross-source dup

  test("crossSourceDup: distinct shared units per pair, canonical order, nulls drop") {
    val rows = Seq(
      ("s1", "alpha"), ("s1", "alpha"),       // in-source dup counts once
      ("s2", "alpha"), ("s3", "alpha"),       // alpha spans 3 sources
      ("s1", "beta"), ("s2", "beta"),
      ("s2", "gamma"),                        // unshared
      ("s3", null.asInstanceOf[String])       // null drops
    ).toDF("source", "content")
    val got = Dedup.crossSourceDup(rows, col("source"), col("content"))
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // alpha -> C(3,2) pairs; beta adds to (s1,s2)
    assert(got == Map(("s1", "s2") -> 2L, ("s1", "s3") -> 1L, ("s2", "s3") -> 1L))
  }

  // ------------------------------------------------------- cluster quality

  test("clusterQuality: cohesion, runner-up margin, tie to lower cid") {
    val cents = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f))
    val vecs = Seq(
      (10L, Array(1f, 0f)),      // c0: own 1.0, margin 1.0
      (11L, Array(0.6f, 0.8f)),  // c1: own 0.8, margin 0.2
      (12L, Array(1f, 1f))       // exact tie -> lower cid 0, margin 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.clusterQuality(vecs, col("vec_id"),
        col("embedding"), cents)
      .select("cid", "n", "mean_cos", "mean_margin", "min_margin")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L)._2 == 2L && got(1L)._2 == 1L)
    // c0 holds {10 (own 1, margin 1), 12 (own ~.7071, margin 0)}
    val c0own = (1.0 + math.sqrt(2.0) / 2.0) / 2.0
    assert(math.abs(got(0L)._3 - c0own) < 1e-6, s"c0 cohesion ${got(0L)._3}")
    assert(math.abs(got(0L)._4 - 0.5) < 1e-6, s"c0 margin ${got(0L)._4}")
    assert(math.abs(got(0L)._5 - 0.0) < 1e-9, s"tie margin must be 0")
    assert(math.abs(got(1L)._3 - 0.8) < 1e-6)
    assert(math.abs(got(1L)._4 - 0.2) < 1e-6)
    // reshard invariance of the quantized means
    val re = Similarity.clusterQuality(vecs.repartition(5), col("vec_id"),
      col("embedding"), cents).select("cid", "mean_cos")
      .as[(Long, Double)].collect().toMap
    assert(re == got.map { case (k, v) => k -> v._3 })
  }

  // -------------------------------------------------------------- triangles

  test("triangleStats: known census; self-loops, dups and reversals canonicalized") {
    // triangle {1,2,3} + pendant 3-4 + a 4-cycle {5,6,7,8} (no diagonal)
    // degrees: 3→3; 4→1; everyone else 2  ⇒  W = 6·C(2,2) + C(3,2) = 9
    val edges = Seq(
      (1L, 2L), (2L, 1L),          // duplicate + reversal → one edge
      (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 4L),                    // self-loop → dropped
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L)
    ).toDF("x", "y")
    val got = graft.graph.Graph.triangleStats(edges, col("x"), col("y"))
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(got._1 == 8L, s"nodes ${got._1}")
    assert(got._2 == 8L, s"edges ${got._2}")
    assert(got._3 == 9L, s"wedges ${got._3}")
    assert(got._4 == 1L, s"triangles ${got._4}")
    assert(math.abs(got._5 - 1.0 / 3.0) < 1e-15, s"cc ${got._5}")
    // clique K4 has C(4,3)=4 triangles, W = 4·C(3,2) = 12, cc = 1
    val k4 = (for (i <- 1 to 4; j <- 1 to 4 if i < j) yield (i.toLong, j.toLong))
      .toDF("x", "y")
    val gk = graft.graph.Graph.triangleStats(k4, col("x"), col("y"))
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(gk._4 == 4L && gk._3 == 12L && math.abs(gk._5 - 1.0) < 1e-15)
    // isolated edges: zero wedges -> coefficient NULL, not a crash
    // (Spark 4 ANSI raises on double division by zero without the guard)
    val iso = Seq((1L, 2L), (3L, 4L)).toDF("x", "y")
    val gi = graft.graph.Graph.triangleStats(iso, col("x"), col("y"))
      .select("n_wedges", "n_triangles", "global_cc")
      .as[(Long, Long, Option[Double])].collect().head
    assert(gi._1 == 0L && gi._2 == 0L && gi._3.isEmpty)
  }

  // ------------------------------------------------------------------- zipf

  test("zipfFit recovers the slope of an exact power-law corpus") {
    // token t_r appears floor(4096 / r^1) times, r = 1..16: slope ≈ -1
    val words = (1 to 16).flatMap { r =>
      Seq.fill(4096 / r)(s"t$r")
    }
    // pack into docs of 64 tokens so the tokenizer sees realistic rows
    val docs = words.grouped(64).zipWithIndex
      .map { case (ws, i) => (i.toLong, "en", ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.zipfFit(docs, col("lang"), col("text"),
        topK = 16, minFreq = 1L)
      .select("lang", "n_fit", "slope")
      .as[(String, Long, Double)].collect()
    assert(got.length == 1 && got.head._1 == "en")
    assert(got.head._2 == 16L)
    // floor(4096/r) and the 1e-6 log quantization both perturb slightly
    assert(math.abs(got.head._3 - (-1.0)) < 0.01, s"slope ${got.head._3}")
  }

  test("heapsFit: linear vocab growth fits beta~1; saturated corpus fits beta 0") {
    // doc i = one fresh token + 9 repeats of "c": V(N) = n+1 at N = 10n
    val growing = (0 until 100).map(i =>
      (i.toLong, (Seq(s"u$i") ++ Seq.fill(9)("c")).mkString(" ")))
      .toDF("doc_id", "text")
    val g = TextAnalysis.heapsFit(growing, col("doc_id"), col("text"))
      .select("n_points", "n_tokens", "n_types", "beta")
      .as[(Long, Long, Long, Double)].collect().head
    assert(g._1 == 10L && g._2 == 1000L && g._3 == 101L)
    // V = n+1 (not n) bends the early points: the true LS slope over
    // (ln 10n, ln(n+1)) at these 10 points is ~0.966, not 1.0
    assert(math.abs(g._4 - 1.0) < 0.05, s"beta ${g._4}")
    // saturation: one token everywhere -> V constant -> beta exactly 0
    val flat = (0 until 50).map(i => (i.toLong, "c c c c"))
      .toDF("doc_id", "text")
    val f = TextAnalysis.heapsFit(flat, col("doc_id"), col("text"))
      .select("n_types", "beta").as[(Long, Double)].collect().head
    assert(f._1 == 1L && f._2 == 0.0, s"saturated beta ${f._2}")
    // reshard invariance
    val re = TextAnalysis.heapsFit(growing.repartition(7), col("doc_id"),
      col("text")).select("beta").as[Double].collect().head
    assert(re == g._4)
  }

  test("pmiTop: hand-computed PMI, minCount cuts hapax pairs, deterministic order") {
    // tokens: x y x y x y a b c a — N=10, B=9
    // c2(x y)=3, c2(y x)=2; hapax bigrams (y a, a b, b c, c a) die at minCount=2
    val docs = Seq((0L, "x y x y x y a b c a")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiTop(docs, col("text"), minCount = 2L, topK = 10)
      .select("w1", "w2", "c2", "pmi")
      .as[(String, String, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq(("x", "y", 3L), ("y", "x", 2L)))
    // PMI(x,y) = ln(3·10·10 / (9·3·3)) = ln(300/81)
    assert(math.abs(got(0)._4 - math.log(300.0 / 81.0)) < 1e-6)
    assert(math.abs(got(1)._4 - math.log(200.0 / 81.0)) < 1e-6)
    val reshard = TextAnalysis.pmiTop(
      docs.union(docs.limit(0)).repartition(5), col("text"),
      minCount = 2L, topK = 10).select("pmi").as[Double].collect()
    assert(reshard.toSeq == got.map(_._4).toSeq, "reshard-invariant")
  }

  test("zipfFit: minFreq gates the tail, topK caps the fit, reshard-invariant") {
    val words = Seq.fill(40)("common") ++ Seq.fill(12)("mid") ++
      Seq.fill(9)("low") ++ Seq("hapax1", "hapax2")
    val docs = words.grouped(8).zipWithIndex
      .map { case (ws, i) => (i.toLong, "en", ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "lang", "text")
    val fit = TextAnalysis.zipfFit(docs, col("lang"), col("text"),
      topK = 2, minFreq = 5L)
    val row = fit.select("n_fit", "slope")
      .as[(Long, Double)].collect().head
    // hapaxes (freq 1 < 5) cut by minFreq; low (9) survives but topK=2
    // keeps only common(40), mid(12)
    assert(row._1 == 2L)
    // two-point fit: slope = ln(12/40)/ln(2/1), up to quantization
    val expected = math.log(12.0 / 40.0) / math.log(2.0)
    assert(math.abs(row._2 - expected) < 0.01, s"slope ${row._2}")
    val reshard = TextAnalysis.zipfFit(docs.repartition(7), col("lang"),
      col("text"), topK = 2, minFreq = 5L)
      .select("slope").as[Double].collect().head
    assert(reshard == row._2, "slope must be reshard-invariant")
    // a single-point fit has zero x-variance: slope/intercept NULL, not
    // an ANSI DIVIDE_BY_ZERO crash
    val one = Seq((0L, "en", "solo solo solo solo solo"))
      .toDF("doc_id", "lang", "text")
    val deg = TextAnalysis.zipfFit(one, col("lang"), col("text"),
        topK = 8, minFreq = 1L)
      .select("n_fit", "slope", "intercept")
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(deg._1 == 1L && deg._2.isEmpty && deg._3.isEmpty)
  }
}
