package graft.streaming

import graft.SparkSpec
import graft.agg.{Aggregates, Funnel}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Streaming-specific semantics: windowed aggregation with watermark,
  * dedup within watermark, KTable-style latest-by-key upserts (the
  * windows and the KTable view are the batch [[Aggregates]] operators
  * over a stream).
  */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("streaming tumbling window aggregates by event time") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    ms.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "a", 4.0), (ts(12), "b", 8.0))
    val agg = Aggregates.tumbling(ms.toDF().toDF("ts", "k", "v").withWatermark("ts", "1 minute"),
      col("ts"), "10 minutes", Seq(col("k")), Seq(sum(col("v")).as("s")))
    val q = agg.writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("win_out").select("k", "s").as[(String, Double)].collect().toSet
    assert(out == Set(("a", 3.0), ("a", 4.0), ("b", 8.0)))
  }

  test("distinctWithinWatermark drops streaming duplicates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    ms.addData((ts(1), "x"), (ts(2), "x"), (ts(3), "y"))
    val dd = Streaming.distinctWithinWatermark(ms.toDF().toDF("ts", "v"), "ts", "10 minutes", Seq("v"))
    val q = dd.writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dd_out").select("v").as[String].collect().sorted.toSeq
    assert(out == Seq("x", "y"))
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Double)]
    val agg = Aggregates.tumbling(ms.toDF().toDF("ts", "v").withWatermark("ts", "5 minutes"),
      col("ts"), "10 minutes", Nil, Seq(sum(col("v")).as("s")))
    val q = agg.writeStream.format("memory").queryName("late_out").outputMode("append").start()
    // batch 1: window [0,10) gets 1.0; max event time 00:25 → watermark 00:20
    ms.addData((ts(1), 1.0), (ts(25), 100.0))
    q.processAllAvailable()
    // batch 2: ts 00:02 is behind the watermark — MUST be discarded, not
    // re-opened (the late-data policy the reference has no notion of)
    ms.addData((ts(2), 50.0), (ts(26), 200.0))
    q.processAllAvailable()
    // batches 3+4: the watermark a batch USES comes from the data of the
    // batch before it, so advancing it far enough to close [00:25,00:30)
    // takes one batch to observe ts 00:59 and a second to emit
    ms.addData((ts(59), 0.5))
    q.processAllAvailable()
    ms.addData((ts(59), 0.25))
    q.processAllAvailable(); q.stop()
    val byWindow = spark.table("late_out")
      .select(col("window_start").cast("string"), col("s")).as[(String, Double)]
      .collect().toMap
    assert(byWindow("2024-01-01 00:00:00") == 1.0) // late 50.0 dropped
    assert(byWindow("2024-01-01 00:20:00") == 300.0) // 10-min window of ts 00:25/00:26
  }

  test("streaming safeFlatMap swallows poison records and keeps the query alive") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    ms.addData(("k1", "7"), ("k2", "boom"), ("k3", "9"))
    val pipe = graft.core.Xform.safeFlatMap[(String, String), (String, Long)](spark, "stream_safe") {
      case (k, v) => Iterator.single((k, v.toLong)) // "boom" throws NumberFormatException
    }
    val out = pipe(ms.toDS()).toDF("k", "n")
    val q = out.writeStream.format("memory").queryName("safe_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("safe_out").as[(String, Long)].collect().toSet
    assert(rows == Set(("k1", 7L), ("k3", 9L))) // poison record skipped, query alive
  }

  test("perKeySessionCount fires event-time timers (punctuate parity)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp)]
    val grouped = ms.toDS().withWatermark("_2", "1 minute").groupByKey(_._1)
    val sessions = Streaming.perKeySessionCount(grouped, gapMs = 10 * 60 * 1000)
    val q = sessions.toDF("k", "n")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    // k1's session: events at 00:01 and 00:02 → timer armed at 00:12.
    // k3 carries TWO sessions in one batch (00:03, then 00:30 — more
    // than the gap later): the first must close immediately with count 1
    ms.addData(("k1", ts(1)), ("k1", ts(2)), ("k3", ts(3)), ("k3", ts(30)))
    q.processAllAvailable()
    // k3's first session splits in-batch (gap exceeded); the 00:30 event
    // also pushes the watermark past k1's 00:12 timer, so k1 fires too
    assert(spark.table("sess_out").as[(String, Long)].collect().toSet
      == Set(("k3", 1L), ("k1", 2L)))
    // a late-keyed record at 00:59 pushes the watermark to 00:58 → k1's
    // timer fires on the following batch
    ms.addData(("k2", ts(59)))
    q.processAllAvailable()
    ms.addData(("k2", ts(59)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out").as[(String, Long)].collect().toSet
    assert(out == Set(("k1", 2L), ("k3", 1L), ("k3", 1L)).map(identity)
      || out == Set(("k1", 2L), ("k3", 1L)), // sets collapse the two (k3,1)
      s"expected k1=2 and both k3 sessions of 1, got $out")
    val k3Sessions = spark.table("sess_out").as[(String, Long)].collect()
      .count(_._1 == "k3")
    assert(k3Sessions == 2, s"k3 must emit two sessions, got $k3Sessions")
  }

  test("perKeyIdleFlush fires processing-time timers (wall-clock punctuate)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    val flushed = Streaming.perKeyIdleFlush(ms.toDS().groupByKey(_._1), idleMs = 300)
    // a PACED trigger, NOT the default 0ms: with ProcessingTimeTimeout,
    // FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true (the
    // engine can't know when the next wall-clock timer is due), so an
    // unpaced trigger runs no-data batches back-to-back and
    // processAllAvailable never settles — poll the sink instead
    val q = flushed.toDF("k", "n")
      .writeStream.format("memory").queryName("idle_out").outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    ms.addData(("a", 1), ("a", 2), ("b", 3))
    // both keys go idle past 300ms; their timers fire on a later paced
    // (possibly no-data) micro-batch and flush the counts
    def rows() = spark.table("idle_out").as[(String, Long)].collect().toSet
    val deadline = System.currentTimeMillis() + 30000
    while (rows().size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    q.stop()
    assert(rows() == Set(("a", 2L), ("b", 1L)), s"expected a=2, b=1 flushed, got ${rows()}")
  }

  test("haltWhen stops the query once a matching record arrives") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_halt").toString
    val q = Streaming.haltWhen(ms.toDF().toDF("k", "v"), col("v") >= 100, ckpt) { batch =>
      batch.collect().foreach(r => seen.add(r.getString(0)))
    }
    ms.addData(("a", 1), ("b", 2))
    q.processAllAvailable()
    assert(q.isActive && seen.size == 2)
    ms.addData(("c", 100), ("d", 3)) // match → batch processed, then halt
    q.awaitTermination(30000)
    assert(!q.isActive, "query must stop after the halting batch")
    assert(seen.contains("c") && seen.contains("d")) // halting batch fully handled
  }

  test("latestByKey emits the newest value per key (KTable view)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Int)]
    ms.addData((ts(1), "k1", 10), (ts(5), "k1", 50), (ts(2), "k2", 20))
    val latest = Aggregates.latestByKey(ms.toDF().toDF("ts", "k", "v"),
      Seq(col("k")), col("ts"), Nil)
    val q = latest.writeStream.format("memory").queryName("kt_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("kt_out").select("k", "v").as[(String, Int)].collect().toMap
    assert(out == Map("k1" -> 50, "k2" -> 20))
  }

  test("stream-stream windowed inner join matches within the time band") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, String)]
    val views = MemoryStream[(Timestamp, String)]
    clicks.addData((ts(10), "u1"), (ts(40), "u2"))
    views.addData((ts(12), "u1"), (ts(13), "u1"), (ts(20), "u2"))
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().toDF("cts", "k"), "cts", "1 minute",
      views.toDF().toDF("vts", "k"), "vts", "1 minute",
      keys = Seq("k"), band = "5 minutes")
    val q = joined.select(col("k"), col("vts"))
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssj_out").as[(String, Timestamp)].collect().toSet
    // u1's click at :10 matches views at :12/:13 (within 5 min);
    // u2's click at :40 does NOT match the :20 view (outside the band)
    assert(out == Set(("u1", ts(12)), ("u1", ts(13))))
  }

  test("stream-stream LEFT OUTER join emits null-padded rows after the watermark") {
    // THE roadmap item the reference TODO-lists by name (api.clj:53-55
    // "leftJoin"): unmatched left rows must emit with nulls — but only
    // once the watermark proves no matching right row can still arrive
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, String)]
    val views = MemoryStream[(Timestamp, String)]
    clicks.addData((ts(10), "u1"), (ts(11), "u2"))
    views.addData((ts(12), "u1"))
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().toDF("cts", "k"), "cts", "1 minute",
      views.toDF().toDF("vts", "k"), "vts", "1 minute",
      keys = Seq("k"), band = "5 minutes", joinType = "left_outer")
    val q = joined.select(col("k"), col("vts"))
      .writeStream.format("memory").queryName("ssj_lo").outputMode("append").start()
    q.processAllAvailable()
    // matched u1 emits immediately; u2 is still pending (a view could
    // arrive until the watermark passes its band)
    val early = spark.table("ssj_lo").as[(String, Option[Timestamp])].collect().toSet
    assert(early == Set(("u1", Some(ts(12)))))
    // push both watermarks far past u2's band, then one more batch to emit
    clicks.addData((ts(59), "u9")); views.addData((ts(59), "u9"))
    q.processAllAvailable()
    clicks.addData((ts(59), "u9")); views.addData((ts(59), "u9"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssj_lo").as[(String, Option[Timestamp])].collect().toSet
    assert(out.contains(("u2", None)), s"unmatched left row must null-pad: $out")
  }

  test("stream-stream FULL OUTER join null-pads both sides after the watermark") {
    // unmatched rows on EITHER side must emit exactly once the watermark
    // closes their band — the strictest of the reference's TODO join family
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, String)]
    val views = MemoryStream[(Timestamp, String)]
    clicks.addData((ts(10), "u1"), (ts(11), "u2")) // u2: left-only
    views.addData((ts(12), "u1"), (ts(13), "u3"))  // u3: right-only
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().toDF("cts", "k"), "cts", "1 minute",
      views.toDF().toDF("vts", "k"), "vts", "1 minute",
      keys = Seq("k"), band = "5 minutes", joinType = "full_outer")
    val q = joined.select(col("k"), col("cts"), col("vts"))
      .writeStream.format("memory").queryName("ssj_fo").outputMode("append").start()
    q.processAllAvailable()
    // only the matched pair emits before the watermark closes the bands
    val early = spark.table("ssj_fo")
      .as[(String, Option[Timestamp], Option[Timestamp])].collect().toSet
    assert(early == Set(("u1", Some(ts(10)), Some(ts(12)))), s"early: $early")
    // advance both watermarks past the bands, then tick once more to flush
    clicks.addData((ts(59), "u9")); views.addData((ts(59), "u9"))
    q.processAllAvailable()
    clicks.addData((ts(59), "u9")); views.addData((ts(59), "u9"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssj_fo")
      .as[(String, Option[Timestamp], Option[Timestamp])].collect().toSet
    assert(out.contains(("u2", Some(ts(11)), None)), s"left-only row must null-pad: $out")
    assert(out.contains(("u3", None, Some(ts(13)))), s"right-only row must null-pad: $out")
  }

  test("streaming curation: quality gate + watermarked dedup + windowed corpus stats") {
    // the LLM curation pipeline (q_curation) in its streaming form: a
    // document stream is quality-gated at scan time, exact-deduped within
    // the watermark horizon, and aggregated into per-window corpus stats —
    // the continuous-ingest twin of the batch curation query
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String, String)]
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank. " * 8
    val short = "tiny"
    ms.addData(
      (ts(1), 1L, "en", good),
      (ts(2), 2L, "en", good),   // exact dup of doc 1's text → deduped
      (ts(3), 3L, "en", short),  // fails the quality gate
      (ts(4), 4L, "en", good + " extra tail words here."),
      (ts(12), 5L, "en", good))  // later window, but same content WITHIN the watermark → deduped
    val docs = ms.toDF().toDF("ts", "doc_id", "lang", "text")
      .withColumn("tc", graft.llm.TextAnalysis.counts(col("text")))
      .filter(graft.llm.TextAnalysis.qualityFrom(col("tc")) >= 0.5)
      .withColumn("content_hash", md5(col("text")))
    val deduped = Streaming.distinctWithinWatermark(
      docs, "ts", "10 minutes", Seq("content_hash"))
    // chained stateful ops: the dedup owns the watermark, the window
    // only aggregates (redefining a watermark mid-stream is disallowed)
    val stats = Streaming.tumblingChained(deduped, "ts", "10 minutes",
      keys = Seq(col("lang")),
      aggs = Seq(count(lit(1)).as("n_docs"), sum(col("tc.n_bpe")).as("bpe")))
    val q = stats.select(col("lang"), col("n_docs"), col("window_start"))
      .writeStream.format("memory").queryName("cur_out").outputMode("append").start()
    // ts(31) drives the watermark to 00:21 — PAST both windows' ends, so
    // window [00:10,00:20) provably closes and its absence is observable;
    // two rounds because the watermark computed at one batch's end takes
    // effect in the next
    ms.addData((ts(31), 9L, "xx", "closer " * 40))
    q.processAllAvailable()
    ms.addData((ts(31), 10L, "xx", "closer " * 40))
    q.processAllAvailable(); q.stop()
    val out = spark.table("cur_out").as[(String, Long, Timestamp)].collect()
      .map { case (l, n, w) => (l, n, w.toString.take(16)) }.toSet
    // window [00:00,00:10): docs 1 and 4 survive (2 deduped, 3 gated);
    // window [00:10,00:20): EMPTY — doc 5 was deduped against doc 1's
    // state (same micro-batch, watermark still unset), so no row emits
    assert(out == Set(("en", 2L, "2024-01-01 00:00")), s"got $out")
  }

  test("branchForeachBatch routes each micro-batch row to its first-match handler") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val collected = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val ms = MemoryStream[Int]
    ms.addData(2, 3, 4, 7, 9, 11)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_branch").toString
    val w = Streaming.branchForeachBatch(
      ms.toDF().toDF("n"),
      branches = Seq("even" -> (col("n") % 2 === 0), "big" -> (col("n") > 5)),
      handlers = Map(
        "even" -> (df => collected.merge("even", df.count(), (a, b) => a + b): Unit),
        "big" -> (df => collected.merge("big", df.count(), (a, b) => a + b): Unit)),
      checkpointDir = ckpt)
    val q = w.start(); q.processAllAvailable(); q.stop()
    // evens: 2,4; big (first-match excludes evens): 7,9,11; 3 dropped
    assert(collected.get("even") == 2L && collected.get("big") == 3L)
  }

  test("perKeyRunningCount maintains checkpointed keyed state (Processor-API parity)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    ms.addData(("a", 1), ("a", 2), ("b", 3))
    val counts = Streaming.perKeyRunningCount(ms.toDS().groupByKey(_._1))
    val q = counts.toDF("k", "n").writeStream
      .format("memory").queryName("cnt_out").outputMode("update").start()
    q.processAllAvailable()
    ms.addData(("a", 4)) // second batch: state must carry over
    q.processAllAvailable(); q.stop()
    val byKey = spark.table("cnt_out").as[(String, Long)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(byKey == Map("a" -> 3L, "b" -> 1L))
  }

  test("perKeyTake emits only the first n records per key across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Int)]
    ms.addData(("a", 1), ("a", 2), ("b", 10))
    val taken = Streaming.perKeyTake(ms.toDS().groupByKey(_._1), n = 2)
    val q = taken.toDF("k", "v").writeStream
      .format("memory").queryName("take_out").outputMode("append").start()
    q.processAllAvailable()
    ms.addData(("a", 3), ("b", 20), ("b", 30)) // a is exhausted; b has 1 slot
    q.processAllAvailable(); q.stop()
    val out = spark.table("take_out").as[(String, Int)].collect().toSet
    assert(out == Set(("a", 1), ("a", 2), ("b", 10), ("b", 20)))
  }

  test("StateView verbs over a materialized table") {
    import spark.implicits._
    val stateDf = Seq((1, "a"), (2, "b"), (3, "c"), (7, "d")).toDF("key", "value")
    val sv = graft.state.StateView.ofBatch(spark, stateDf, "sv_test", "key")
    assert(sv.get(2).select("value").as[String].collect().toSeq == Seq("b"))
    assert(sv.all().count() == 4)
    assert(sv.range(2, 3).select("value").as[String].collect().toSeq == Seq("b", "c"))
  }

  test("StateView checkpoint backend reads a stopped query's keyed state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ms = MemoryStream[(String, Int)]
    ms.addData(("a", 1), ("a", 2), ("b", 5))
    val agg = ms.toDF().toDF("k", "v").groupBy("k").agg(sum("v").as("total"))
    val q = agg.writeStream.format("memory").queryName("ckpt_out")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    // Spark 4 statestore reader: exact keyed state, offline, keyed by the
    // nested grouping column
    val sv = graft.state.StateView.ofCheckpoint(spark, ckpt, "key.k", "ckpt_state")
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key.k"), col("value.sum")).as[(String, Long)].collect().toSeq
    assert(sums(sv.get("a")) == Seq(("a", 3L)))
    assert(sums(sv.get("z")).isEmpty)
    assert(sums(sv.all()).toMap == Map("a" -> 3L, "b" -> 5L))
    assert(sums(sv.range("a", "b")) == Seq(("a", 3L), ("b", 5L)))
    assert(sums(sv.range("b", "z")) == Seq(("b", 5L)))
  }

  test("a checkpoint written under 8 shuffle partitions restores at 8 under a 2-partition session") {
    // Scale.configure sizes a query's state partitions from its input;
    // a checkpoint keeps the count it started with, so one written under
    // the old fixed floor of 8 must restore and run on under a session
    // that now plans 2.
    import spark.implicits._
    val s = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batches = Seq(
      Seq((ts(1), "e1", "a"), (ts(2), "e2", "a"), (ts(3), "e3", "b"), (ts(3), "e1", "a")),
      Seq((ts(6), "e4", "a"), (ts(7), "e2", "a"), (ts(12), "e5", "b")),
      // e3 repeats across the restart: only the restored dedup state drops it
      Seq((ts(14), "e3", "b"), (ts(16), "e6", "a"), (ts(40), "e7", "b")))
    def counts(ms: MemoryStream[(Timestamp, String, String)]) =
      Streaming.tumblingChained(
        Streaming.distinctWithinWatermark(ms.toDF().toDF("ts", "id", "k"), "ts", "10 minutes",
          Seq("id")),
        "ts", "5 minutes", Seq(col("k")), Seq(count(lit(1)).as("n")))
    def start(ms: MemoryStream[(Timestamp, String, String)], ckpt: String, out: String) =
      counts(ms).writeStream.format("parquet").option("checkpointLocation", ckpt)
        .option("path", out).outputMode("append").start()
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
             ms: MemoryStream[(Timestamp, String, String)], bs: Seq[Seq[(Timestamp, String, String)]]) =
      bs.foreach { b => ms.addData(b); q.processAllAvailable() }
    def sink(out: String) = s.read.parquet(out)
      .select(col("window_start").cast("string"), col("k"), col("n"))
      .as[(String, String, Long)].collect().toSet
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    s.conf.set("spark.sql.shuffle.partitions", "8")
    val (ckpt, out) = (tmp("graft_restart_ckpt"), tmp("graft_restart_out"))
    val ms = MemoryStream[(Timestamp, String, String)]
    val first = start(ms, ckpt, out)
    feed(first, ms, batches.take(2)); first.stop()

    s.conf.set("spark.sql.shuffle.partitions", "2")
    val restored = start(ms, ckpt, out)
    feed(restored, ms, batches.drop(2)); restored.stop()
    val ops = restored.lastProgress.stateOperators
    assert(ops.length == 2 && ops.forall(_.numShufflePartitions == 8),
      ops.map(o => s"${o.operatorName}=${o.numShufflePartitions}").mkString(","))
    // every offset-log entry, the restored run's included, records the 8
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val logged = new java.io.File(ckpt, "offsets").listFiles().filter(_.getName.forall(_.isDigit))
      .map { f =>
        val meta = java.nio.file.Files.readAllLines(f.toPath).get(1)
        f.getName.toInt -> mapper.readTree(meta).path("conf").path("spark.sql.shuffle.partitions").asText
      }.toMap
    assert(logged.keySet.max >= 2 && logged.values.toSet == Set("8"), logged)

    s.conf.set("spark.sql.shuffle.partitions", "8")
    val (ckpt2, out2) = (tmp("graft_straight_ckpt"), tmp("graft_straight_out"))
    val ms2 = MemoryStream[(Timestamp, String, String)]
    val straight = start(ms2, ckpt2, out2)
    feed(straight, ms2, batches); straight.stop()
    val expected = Set(("2024-01-01 00:00:00", "a", 2L), ("2024-01-01 00:00:00", "b", 1L),
      ("2024-01-01 00:05:00", "a", 1L), ("2024-01-01 00:10:00", "b", 1L),
      ("2024-01-01 00:15:00", "a", 1L))
    assert(sink(out2) == expected)
    assert(sink(out) == sink(out2))
  }

  test("streaming minhash dedup: first arrival claims the bands, later near-dups are flagged") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val verdicts = Streaming.streamingMinHashDedup(
      ms.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      shingleWidth = 3, bands = 4, rowsPerBand = 4)
    val q = verdicts.writeStream.format("memory").queryName("smhd_out")
      .outputMode("update").start()
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "completely different words describing structured streaming state stores in detail"
    // batch 1: doc 1 claims t1's bands; doc 2 (same text, same batch)
    // loses the within-batch tie to the lower id
    ms.addData((1L, t1), (2L, t1))
    q.processAllAvailable()
    // batch 2: doc 3 collides with state claimed a batch earlier; doc 4
    // is genuinely novel; doc 5 is below the shingle width (no signal)
    // and must still get a kept verdict like the batch dedup gives it
    ms.addData((3L, t1), (4L, t2), (5L, "too short"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("smhd_out")
      .select(col("doc_id"), col("dup_of"), col("kept"))
      .as[(Long, Option[Long], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 5, s"one verdict per doc: $out")
    assert(out(1L)._3 && out(4L)._3 && out(5L)._3,
      s"docs 1, 4 and the short doc 5 must be kept: $out")
    assert(!out(2L)._3 && out(2L)._2.contains(1L), s"doc 2 dup of 1: $out")
    assert(!out(3L)._3 && out(3L)._2.contains(1L), s"doc 3 dup of 1 across batches: $out")
  }

  test("streaming simhash dedup flags exact near-dups and keeps token-less docs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val verdicts = Streaming.streamingSimHashDedup(
      ms.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"))
    val q = verdicts.writeStream.format("memory").queryName("ssh_out")
      .outputMode("update").start()
    val t1 = "structured streaming state stores hold one long per band key"
    ms.addData((1L, t1))
    q.processAllAvailable()
    // identical text -> identical simhash -> every band collides; the
    // empty doc has no tokens and must take the sentinel (kept) route
    ms.addData((2L, t1), (3L, "wholly different content about parquet readers"), (4L, ""))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ssh_out")
      .select(col("doc_id"), col("dup_of"), col("kept"))
      .as[(Long, Option[Long], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 4, s"one verdict per doc: $out")
    assert(out(1L)._3 && out(3L)._3 && out(4L)._3, s"kept set: $out")
    assert(!out(2L)._3 && out(2L)._2.contains(1L), s"doc 2 dup of 1: $out")
  }

  test("stream-static anti join drops docs already in the corpus ledger") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ledger = Seq("seen text one", "seen text two").toDF("t")
      .select(md5(col("t")).as("content_hash"))
    val ms = MemoryStream[(Long, String)]
    val out = Streaming.streamingDedupAgainstLedger(
      ms.toDF().toDF("doc_id", "text"), col("text"), ledger, col("content_hash"))
    val q = out.writeStream.format("memory").queryName("ledger_out")
      .outputMode("append").start()
    ms.addData((1L, "seen text one"), (2L, "brand new text"), (3L, "seen text two"))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("ledger_out").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2L), s"only unseen content admitted: $ids")
  }

  test("activity ledger in foreachBatch: retention equals batch; replay is a no-op (set union)") {
    // streaming half of Funnel.retention: the (user, period) ledger is
    // a distinct set union — idempotent, so unlike the count-additive
    // line/KL ledgers a REPLAYED batch needs no high-water mark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = 6000000000L // 100-minute periods
    def at(period: Int, min: Int) = new Timestamp((period * 100 + min) * 60000L)
    val b1 = Seq((1L, at(0, 1)), (2L, at(0, 5)), (1L, at(1, 2)))
    val b2 = Seq((1L, at(1, 50)), (2L, at(1, 9)), (3L, at(1, 7)), (1L, at(3, 0)))

    var ledger = Seq.empty[(Long, Long)].toDF("user_id", "wk")
    def mergeBatch(rows: Seq[(Long, Timestamp)]): Unit = ledger.synchronized {
      ledger = Streaming.mergeActivityLedger(ledger,
        rows.toDF("user_id", "ts"), col("user_id"), col("ts"), p).cache()
      ledger.count()
      ()
    }
    val ms = MemoryStream[(Long, Timestamp)]
    val q = ms.toDF().toDF("user_id", "ts").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeActivityLedger(ledger, batch,
            col("user_id"), col("ts"), p).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()

    val all = (b1 ++ b2).toDF("user_id", "ts")
    val batchRet = Funnel.retention(all, col("user_id"), col("ts"), p)
      .as[(Long, Long, Long)].collect().toSet
    val streamRet = Funnel.retentionFromPeriods(ledger)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamRet == batchRet, s"stream=$streamRet batch=$batchRet")
    // at-least-once redelivery: merging batch 2 AGAIN changes nothing
    val before = ledger.as[(Long, Long)].collect().toSet
    mergeBatch(b2)
    assert(ledger.as[(Long, Long)].collect().toSet == before,
      "replayed batch must be a set-union no-op")
    assert(Funnel.retentionFromPeriods(ledger)
      .as[(Long, Long, Long)].collect().toSet == batchRet)

    // the SAME ledger also carries churn/growth accounting — no extra
    // streaming state beyond what retention already keeps
    val batchChurn = Funnel.churn(all, col("user_id"), col("ts"), p)
      .collect().map(_.toSeq).toSet
    val streamChurn = Funnel.churnFromPeriods(ledger.distinct())
      .collect().map(_.toSeq).toSet
    graft.core.Caches.release()
    assert(streamChurn == batchChurn,
      s"stream=$streamChurn batch=$batchChurn")
  }

  test("priority-sample ledger: streamed k-smallest equals batch sample; replay is a no-op") {
    // top-k-by-priority is a monoid, so batch boundaries and replays
    // cannot change the final sample
    import spark.implicits._
    val all = (0L until 200L).map(i => (s"g${i % 2}", i, (i % 7) + 1L))
    val batches = all.grouped(70).toSeq
    var ledger = Seq.empty[(String, Long, Long, Long)]
      .toDF("grp", "doc_id", "weight", "priority")
    def merge(rows: Seq[(String, Long, Long)]): Unit = {
      ledger = Streaming.mergePrioritySampleLedger(ledger,
        rows.toDF("g", "doc_id", "w"), col("g"), col("doc_id"), col("w"),
        k = 15).cache()
      ledger.count()
      ()
    }
    batches.foreach(merge)
    val batchSample = graft.llm.Selection.prioritySamplePerGroup(
      all.toDF("g", "doc_id", "w"), col("g"), col("doc_id"), col("w"), k = 15)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(ledger.as[(String, Long, Long, Long)].collect().toSet == batchSample)
    // redeliver the middle batch: bit-identical rows collapse in the
    // distinct k-cut — the ledger must not move
    merge(batches(1))
    assert(ledger.as[(String, Long, Long, Long)].collect().toSet == batchSample)
  }

  test("idempotent line ledger: a replayed batch is a no-op (batchId high-water mark)") {
    // at-least-once failure recovery redelivers a whole foreachBatch
    // batch with the SAME batchId; the gated merge must make that a
    // no-op so the final ledger still equals the one-shot batch
    // lineFrequencies bit for bit — the guarantee the bloom ledger gets
    // from bit_or idempotence, bought here with the HWM sentinel
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "home | about\nunique one\ncopyright X"),
      (2L, "copyright X\nhome | about\nbody two"),
      (3L, "opening three\nhome | about\nclosing three"),
      (4L, "home | about\nhome | about"))
    val maxDocs = 2L

    var ledger = Seq.empty[(Long, Long)].toDF("h", "n_docs")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          // merge, then REPLAY the same batch under the same batchId —
          // exactly what a foreachBatch retry after a sink failure does
          ledger = Streaming.mergeLineLedgerIdempotent(ledger, batch,
            col("doc_id"), col("text"), bid).cache()
          ledger.count()
          ledger = Streaming.mergeLineLedgerIdempotent(ledger, batch,
            col("doc_id"), col("text"), bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(docs.take(2)); q.processAllAvailable()
    ms.addData(Seq(docs(2))); q.processAllAvailable()
    ms.addData(Seq(docs(3))); q.processAllAvailable()
    q.stop()

    // HWM sentinel reflects the last merged batch
    assert(Streaming.ledgerHighWaterMark(ledger, col("h"), col("n_docs")) == 2L)

    val all = docs.toDF("doc_id", "text")
    val batchFreqs = graft.llm.Dedup.lineFrequencies(
      graft.llm.Dedup.explodeLines(all, col("doc_id"), col("text")))
      .as[(Long, Long)].collect().toSet
    val dataRows = ledger.filter(col("h").isNotNull)
      .as[(Long, Long)].collect().toSet
    assert(dataRows == batchFreqs,
      "replay-gated ledger must equal batch line frequencies despite redelivery")

    // verdicts against the gated ledger (sentinel included — a null hash
    // matches nothing) equal the batch lineDedup verdicts
    val streamed = Streaming.lineVerdictsAgainstLedger(all, col("doc_id"),
        col("text"), ledger, maxDocs)
      .as[(Long, String, Long, Long)].collect().toSet
    val batch = graft.llm.Dedup.lineDedup(all, col("doc_id"), col("text"), maxDocs)
      .as[(Long, String, Long, Long)].collect().toSet
    graft.llm.Dedup.releaseCaches()
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // and the boilerplate actually fired: doc 4 is all nav bar
    assert(streamed.find(_._1 == 4L).get._2 == "")
  }

  test("idempotent kl ledger: a replayed batch is a no-op and drift matches the batch monitor") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "alpha beta gamma delta", "steady"),
      (2L, "alpha beta gamma epsilon", "steady"),
      (3L, "zzz qqq xxx www", "drifted"),
      (4L, "alpha beta zeta eta", "steady"),
      (5L, "vvv zzz qqq uuu", "drifted"))

    var ledger = Seq.empty[(String, Long, Long)].toDF("g", "b", "n_gb")
    val ms = MemoryStream[(Long, String, String)]
    val q = ms.toDF().toDF("doc_id", "text", "source").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeKlLedgerIdempotent(ledger, batch,
            col("text"), col("source"), bid).cache()
          ledger.count()
          // redelivery of the same batchId must not double token counts
          ledger = Streaming.mergeKlLedgerIdempotent(ledger, batch,
            col("text"), col("source"), bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(docs.take(2)); q.processAllAvailable()
    ms.addData(Seq(docs(2), docs(3))); q.processAllAvailable()
    ms.addData(Seq(docs(4))); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("g"), col("n_gb")) == 2L)

    val all = docs.toDF("doc_id", "text", "source")
    val batchCounts = graft.llm.TextAnalysis.klBucketCounts(
      all, col("text"), col("source"))
      .as[(String, Long, Long)].collect().toSet
    assert(ledger.filter(col("g").isNotNull)
      .as[(String, Long, Long)].collect().toSet == batchCounts,
      "replay-gated ledger must equal batch bucket counts despite redelivery")

    // klFromBucketCounts drops the sentinel itself — feed it the raw ledger
    val streamed = graft.llm.TextAnalysis.klFromBucketCounts(ledger)
      .as[(String, Double)].collect().toSet
    val batch = graft.llm.TextAnalysis.unigramKlDrift(all, col("text"),
      col("source")).as[(String, Double)].collect().toSet
    graft.core.Caches.release()
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("bloom ledger in foreachBatch: merged words and verdicts equal the batch gate") {
    // ingest-time twin of Bloom.gate: micro-batches fold keys into a
    // (word, wbits) ledger; bit_or idempotence means even a REPLAYED
    // batch (at-least-once delivery) leaves the ledger equal to the
    // one-shot build, and final-ledger verdicts equal the batch gate's
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bits = 1024
    val refDocs = Seq(
      (1L, "shared boilerplate text"),
      (2L, "reference body two"),
      (3L, "reference body three"),
      (4L, "reference body four"))

    var ledger = Seq.empty[(Int, Long)].toDF("word", "wbits")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeBloomLedger(ledger, batch,
            col("text"), bits).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(refDocs.take(2)); q.processAllAvailable()
    ms.addData(Seq(refDocs(2))); q.processAllAvailable()
    ms.addData(Seq(refDocs(2), refDocs(3))); q.processAllAvailable() // doc 3 replayed
    q.stop()

    val all = refDocs.toDF("doc_id", "text")
    val oneShot = graft.llm.Bloom.buildBits(
      all.select(md5(col("text")).as("h")).distinct(), col("h"), bits)
    val streamed = graft.llm.Bloom.toBitArray(ledger, bits)
    assert(streamed.toSeq == oneShot.toSeq,
      "replay-folded ledger must equal the one-shot filter bit for bit")

    // verdicts against the final ledger == the batch gate's maybe_dup
    val probe = Seq((10L, "shared boilerplate text"), (11L, "novel text"))
      .toDF("doc_id", "text")
    val viaLedger = Streaming.bloomVerdictsAgainstLedger(probe,
        col("doc_id"), col("text"), ledger, bits)
      .as[(Long, Boolean)].collect().toMap
    val viaBatch = graft.llm.Bloom.gate(all, probe, col("doc_id"),
        col("text"), bits)
      .select("doc_id", "maybe_dup").as[(Long, Boolean)].collect().toMap
    ledger.unpersist()
    assert(viaLedger == viaBatch, s"ledger=$viaLedger batch=$viaBatch")
    assert(viaLedger(10L), "exact dup must be flagged (no false negatives)")
  }

  test("claimsToVerdicts in foreachBatch equals the chained-aggregation verdicts") {
    // the documented lake-scale path: per-batch stateless verdict
    // aggregation over the claims stream (no doc-level state) must yield
    // the same verdicts the chained streaming aggregation produces
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val claims = Streaming.streamingBandClaims(
      ms.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      shingleWidth = 3, bands = 4, rowsPerBand = 4)
      .toDF("doc_id", "band_key", "owner")
    val got = scala.collection.mutable.Map.empty[Long, (Option[Long], Boolean)]
    val q = claims.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Streaming.claimsToVerdicts(batch)
          .as[(Long, Option[Long], Boolean)].collect()
          .foreach(v => got(v._1) = (v._2, v._3))
      }.start()
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    ms.addData((1L, t1), (2L, t1))
    q.processAllAvailable()
    ms.addData((3L, t1), (4L, "an entirely unrelated body of streaming text"), (5L, "too short"))
    q.processAllAvailable()
    q.stop()
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), s"every doc verdicted: $got")
    assert(got(1L)._2 && got(4L)._2 && got(5L)._2, s"kept set: $got")
    assert(!got(2L)._2 && got(2L)._1.contains(1L), s"doc 2 dup of 1: $got")
    assert(!got(3L)._2 && got(3L)._1.contains(1L), s"doc 3 dup of 1: $got")
  }

  test("idempotent vocab ledger: replay is a no-op; streamed OOV equals the batch audit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "xylophone quetzal obelisk the"),
      (4L, "the the cat dog"))

    var ledger = Seq.empty[(String, Long)].toDF("tok", "n")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          // merge, then replay the same batch under the same batchId —
          // the at-least-once redelivery the HWM gate exists for
          ledger = Streaming.mergeVocabLedgerIdempotent(ledger, batch,
            col("text"), bid).cache()
          ledger.count()
          ledger = Streaming.mergeVocabLedgerIdempotent(ledger, batch,
            col("text"), bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(docs.take(2)); q.processAllAvailable()
    ms.addData(docs.drop(2)); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("tok"), col("n")) == 1L)

    val all = docs.toDF("doc_id", "text")
    // ledger counts equal the one-shot batch token counts despite replay
    val batchCounts = all.select(explode(
        graft.functions.GraftFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").count()
      .as[(String, Long)].collect().toSet
    val ledgerRows = ledger.filter(col("tok").isNotNull)
      .as[(String, Long)].collect().toSet
    assert(ledgerRows == batchCounts,
      "replay-gated vocab ledger must equal batch token counts")

    // OOV against the full-corpus ledger top-5 == the batch oovRate top-5
    val streamed = Streaming.oovAgainstVocabLedger(all, col("doc_id"),
        col("text"), ledger, vocabSize = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val batch = graft.llm.TextAnalysis.oovRate(all, col("doc_id"),
        col("text"), vocabSize = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("overlap ledger in foreachBatch: matrix equals batch crossSourceDup; replay is a no-op") {
    // the (src, h) ledger is a distinct set union — idempotent like the
    // activity ledger, so a redelivered batch needs no high-water mark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq(("s1", "alpha"), ("s2", "alpha"), ("s1", "beta"))
    val b2 = Seq(("s3", "alpha"), ("s2", "beta"), ("s2", "gamma"), ("s1", "beta"))

    var ledger = Seq.empty[(String, String)].toDF("src", "h")
    def mergeBatch(rows: Seq[(String, String)]): Unit = ledger.synchronized {
      ledger = Streaming.mergeOverlapLedger(ledger,
        rows.toDF("source", "content"), col("source"), col("content")).cache()
      ledger.count()
      ()
    }
    val ms = MemoryStream[(String, String)]
    val q = ms.toDF().toDF("source", "content").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeOverlapLedger(ledger, batch,
            col("source"), col("content")).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()

    val streamed = Streaming.overlapMatrixFromLedger(ledger)
      .as[(String, String, Long)].collect().toSet
    val batchM = graft.llm.Dedup.crossSourceDup(
        (b1 ++ b2).toDF("source", "content"), col("source"), col("content"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batchM, s"stream=$streamed batch=$batchM")
    // at-least-once redelivery: merging batch 2 AGAIN changes nothing
    val before = ledger.as[(String, String)].collect().toSet
    mergeBatch(b2)
    assert(ledger.as[(String, String)].collect().toSet == before,
      "replayed batch must be a set-union no-op")
    assert(Streaming.overlapMatrixFromLedger(ledger)
      .as[(String, String, Long)].collect().toSet == batchM)
  }

  test("idempotent psi ledger: replay is a no-op; streamed PSI equals the batch index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, 120L, "en"), (2L, 340L, "en"), (3L, 95L, "de"),
      (4L, 120L, "de"), (5L, 800L, "en"), (6L, 95L, "en"),
      (7L, 2100L, "de"), (8L, 340L, "de"), (9L, 55L, "en"))

    var ledger = Seq.empty[(Long, Long, Long)].toDF("x", "a", "b")
    val ms = MemoryStream[(Long, Long, String)]
    val q = ms.toDF().toDF("doc_id", "n_chars", "lang").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergePsiLedgerIdempotent(ledger, batch,
            col("n_chars"), col("lang") === "en", bid).cache()
          ledger.count()
          // redelivery of the same batchId must not double value counts
          ledger = Streaming.mergePsiLedgerIdempotent(ledger, batch,
            col("n_chars"), col("lang") === "en", bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(rows.take(3)); q.processAllAvailable()
    ms.addData(rows.slice(3, 7)); q.processAllAvailable()
    ms.addData(rows.drop(7)); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("x"), col("a")) == 2L)

    val all = rows.toDF("doc_id", "n_chars", "lang")
    val batchCounts = graft.agg.RobustStats.psiValueCounts(
      all, col("n_chars"), col("lang") === "en")
      .as[(Long, Long, Long)].collect().toSet
    assert(ledger.filter(col("x").isNotNull)
      .as[(Long, Long, Long)].collect().toSet == batchCounts,
      "replay-gated ledger must equal batch value counts despite redelivery")

    // psiFromValueCounts drops the sentinel itself — feed the raw ledger
    val streamed = graft.agg.RobustStats.psiFromValueCounts(ledger, 10)
      .collect().map(_.toSeq).toSet
    val batch = graft.agg.RobustStats.psi(all, col("n_chars"),
      col("lang") === "en").collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")

    // the SAME ledger also carries Wasserstein-1 drift — no extra
    // streaming state beyond what the PSI monitor already keeps
    val streamedW1 = graft.agg.RobustStats
      .wasserstein1FromValueCounts(ledger)
      .collect().map(_.toSeq).toSet
    val batchW1 = graft.agg.RobustStats.wasserstein1(all, col("n_chars"),
      col("lang") === "en").collect().map(_.toSeq).toSet
    graft.core.Caches.release()
    assert(streamedW1 == batchW1, s"stream=$streamedW1 batch=$batchW1")
  }

  test("idempotent daily-count ledger: replay is a no-op; streamed anomalies equal batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def us(day: Long, off: Long) = day * 86400000000L + off
    // 8 quiet days then a spike day, split across micro-batches with a
    // day straddling the batch boundary (its count must re-sum)
    val rows: Seq[(String, Long)] =
      (0L until 8L).flatMap(d => (1L to 5L).map(i => ("k", us(d, i)))) ++
        (1L to 40L).map(i => ("k", us(8L, i)))
    val (b1, b2, b3) = (rows.take(18), rows.slice(18, 43), rows.drop(43))

    var ledger = Seq.empty[(String, Long, Long)].toDF("k", "day", "c")
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("k", "u")
      .select(col("k"), timestamp_micros(col("u")).as("ts")).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeDailyCountLedgerIdempotent(ledger, batch,
            col("k"), col("ts"), bid).cache()
          ledger.count()
          // redelivery of the same batchId must not double day counts
          ledger = Streaming.mergeDailyCountLedgerIdempotent(ledger, batch,
            col("k"), col("ts"), bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    ms.addData(b3); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("k"), col("day")) == 2L)

    val all = rows.toDF("k", "u")
      .select(col("k"), timestamp_micros(col("u")).as("ts"))
    val batchDaily = graft.agg.TimeSeries.dailyCounts(all, col("k"),
      col("ts")).as[(String, Long, Long)].collect().toSet
    assert(ledger.filter(col("k").isNotNull)
      .as[(String, Long, Long)].collect().toSet == batchDaily,
      "replay-gated ledger must equal batch daily counts despite redelivery")

    val streamed = graft.agg.TimeSeries.rollingAnomalyFromDaily(
      ledger.filter(col("k").isNotNull)).collect().map(_.toSeq).toSet
    val batch = graft.agg.TimeSeries.rollingAnomaly(all, col("k"),
      col("ts")).collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(batch.exists(r => r(1) == 8L && r(6) == true),
      "the spike day must flag")
  }

  test("idempotent user-value ledger: replay is a no-op; streamed LTV equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def us(w: Long, off: Long) = w * 604800000000L + off
    // two cohorts; user 1 spends across weeks 0 and 1, with week-1
    // spend split ACROSS batches (its cw must re-sum)
    val rows: Seq[(Long, Long, Double)] = Seq(
      (1L, us(0, 1), 1.0), (2L, us(0, 2), 3.0),
      (1L, us(1, 1), 2.0), (1L, us(1, 9), 0.5),
      (3L, us(1, 3), 4.0))
    val (b1, b2) = (rows.take(3), rows.drop(3))

    var ledger = Seq.empty[(Long, Long, Long)].toDF("u", "wk", "cw")
    val ms = MemoryStream[(Long, Long, Double)]
    val q = ms.toDF().toDF("u", "t", "v")
      .select(col("u"), timestamp_micros(col("t")).as("ts"), col("v"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeUserValueLedgerIdempotent(ledger, batch,
            col("u"), col("ts"), col("v"), bid).cache()
          ledger.count()
          // redelivery of the same batchId must not double spend
          ledger = Streaming.mergeUserValueLedgerIdempotent(ledger, batch,
            col("u"), col("ts"), col("v"), bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(b1); q.processAllAvailable()
    ms.addData(b2); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("u"), col("wk")) == 1L)
    val all = rows.toDF("u", "t", "v")
      .select(col("u"), timestamp_micros(col("t")).as("ts"), col("v"))
    val batchPeriods = graft.agg.Funnel.userValuePeriods(all, col("u"),
      col("ts"), col("v"), 604800000000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(ledger.filter(col("u").isNotNull)
      .as[(Long, Long, Long)].collect().toSet == batchPeriods,
      "replay-gated ledger must equal batch user-period masses")

    val streamed = graft.agg.Funnel.cohortValueFromPeriods(
      ledger.filter(col("u").isNotNull)).collect().map(_.toSeq).toSet
    val batch = graft.agg.Funnel.cohortValue(all, col("u"), col("ts"),
      col("v")).collect().map(_.toSeq).toSet
    graft.core.Caches.release()
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("streaming dHash claims: a re-encoded duplicate resolves to the first claimer") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Array.tabulate[Byte](200)(i => ((i * 37 + 11) % 200).toByte)
    val shifted = base.map(b => (b + 1).toByte) // brightness re-encode
    val other = base.reverse
    val ms = MemoryStream[(Long, Array[Byte])]
    val claims = Streaming.streamingDHashClaims(
      ms.toDF().toDF("media_id", "payload"), col("media_id"),
      col("payload")).toDF("doc_id", "band_key", "owner")
    val got = scala.collection.mutable.Map.empty[Long, (Option[Long], Boolean)]
    val q = claims.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Streaming.claimsToVerdicts(batch)
          .as[(Long, Option[Long], Boolean)].collect()
          .foreach(v => got(v._1) = (v._2, v._3))
      }.start()
    ms.addData((1L, base)); q.processAllAvailable()
    ms.addData((2L, shifted), (3L, other), (4L, Array.emptyByteArray))
    q.processAllAvailable()
    q.stop()
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"every media verdicted: $got")
    assert(got(1L)._2, s"first claimer kept: $got")
    assert(!got(2L)._2 && got(2L)._1.contains(1L),
      s"re-encode dups to the original: $got")
    assert(got(4L)._2, s"empty payload self-owned sentinel: $got")
  }

  test("kmv sketch ledger: min-merge is replay-proof; estimates equal the batch sketch") {
    // bottom-k of a set union ignores redelivery — the bloom-ledger
    // idempotence class, no HWM sentinel needed (Dedup.kmvSketch doc)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 4
    val docs = Seq(
      ("a", "d1"), ("a", "d2"), ("a", "d3"), ("a", "d4"), ("a", "d5"),
      ("b", "d3"), ("b", "d4"), ("b", "d5"), ("b", "d6"),
      ("c", "x1"), ("c", "x2"))
    var ledger = Seq.empty[(String, Long)].toDF("src", "h")
    val ms = MemoryStream[(String, String)]
    val q = ms.toDF().toDF("source", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        ledger.synchronized {
          // merge, then REPLAY the same batch — must be a no-op
          ledger = Streaming.mergeKmvLedger(ledger, batch,
            col("source"), col("text"), k).cache()
          ledger.count()
          ledger = Streaming.mergeKmvLedger(ledger, batch,
            col("source"), col("text"), k).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(docs.take(5)); q.processAllAvailable()
    ms.addData(docs.slice(5, 9)); q.processAllAvailable()
    ms.addData(docs.drop(9)); q.processAllAvailable()
    q.stop()

    val all = docs.toDF("source", "text")
    val batchSketch = graft.llm.Dedup.kmvSketch(all, col("source"),
      col("text"), k).as[(String, Long)].collect().toSet
    assert(ledger.as[(String, Long)].collect().toSet == batchSketch)
    val streamedEst = graft.llm.Dedup.kmvJaccardFromSketch(ledger, k)
      .collect().map(_.toSeq).toSet
    val batchEst = graft.llm.Dedup.kmvSourceJaccard(all, col("source"),
      col("text"), k).collect().map(_.toSeq).toSet
    assert(streamedEst == batchEst, s"stream=$streamedEst batch=$batchEst")
  }
  test("idempotent duel ledger: win matrix equals batch despite a replayed batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val duels = Seq(("en", "de"), ("en", "de"), ("de", "fr"),
      ("fr", "en"), ("en", "fr"), ("de", "en"))

    var ledger = Seq.empty[(String, String, Long)].toDF("win", "lose", "n")
    val ms = MemoryStream[(String, String)]
    val q = ms.toDF().toDF("win", "lose").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          // merge, then REPLAY the same batch under the same batchId
          ledger = Streaming.mergeDuelLedgerIdempotent(ledger, batch, bid).cache()
          ledger.count()
          ledger = Streaming.mergeDuelLedgerIdempotent(ledger, batch, bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(duels.take(3)); q.processAllAvailable()
    ms.addData(duels.drop(3)); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("win"), col("n")) == 1L)
    val streamed = Streaming.winMatrixFromLedger(ledger)
      .collect().map(_.toSeq).toSet
    val batch = graft.llm.Preference.winMatrix(duels.toDF("win", "lose"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"replay-gated duel ledger must equal the batch win matrix: $streamed vs $batch")
  }

  test("idempotent quarantine ledger: replay is a no-op; counts match the batch guard") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ok, NaN, NULL vector, +Inf, ok, -Inf → ok 2 / null_in 1 / quarantined 3
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      (0L, Some(Seq(1f, 2f))),
      (1L, Some(Seq(Float.NaN, 1f))),
      (2L, None),
      (3L, Some(Seq(Float.PositiveInfinity, 0f))),
      (4L, Some(Seq(0.5f, 0.25f))),
      (5L, Some(Seq(1f, Float.NegativeInfinity))))

    var ledger = Seq.empty[(String, Long)].toDF("cat", "n")
    val ms = MemoryStream[(Long, Option[Seq[Float]])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        ledger.synchronized {
          ledger = Streaming.mergeQuarantineLedgerIdempotent(ledger, batch,
            col("embedding"), bid).cache()
          ledger.count()
          // redelivery of the same batchId must not double the counts
          ledger = Streaming.mergeQuarantineLedgerIdempotent(ledger, batch,
            col("embedding"), bid).cache()
          ledger.count()
        }
        ()
      }.start()
    ms.addData(rows.take(3)); q.processAllAvailable()
    ms.addData(rows.drop(3)); q.processAllAvailable()
    q.stop()

    assert(Streaming.ledgerHighWaterMark(ledger, col("cat"), col("n")) == 1L)
    val got = ledger.filter(col("cat").isNotNull)
      .as[(String, Long)].collect().toMap
    assert(got == Map("ok" -> 2L, "null_in" -> 1L, "quarantined" -> 3L),
      s"ledger counts drifted: $got")
    // the streamed ledger equals the one-shot batch guard accounting:
    // quarantined+null_in = rows the batch Tables.embeddings guard
    // would drop or pass through as NULL
    val all = rows.toDF("vec_id", "embedding")
    val batchCounts = Streaming.quarantineCounts(all, col("embedding"))
      .as[(String, Long)].collect().toMap
    assert(got == batchCounts)
  }

  test("HWM gate over the eight gated ledgers: fixed sentinel layout; an older redelivered batch is a no-op") {
    // one table row per count-additive ledger: merge batchIds 0, 1, 2,
    // then replay batch 0 the way a restart from an old checkpoint would
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types.{DataType, LongType, StringType}
    case class Gated(name: String, empty: DataFrame, batch: Int => DataFrame,
                     merge: (DataFrame, DataFrame, Long) => DataFrame,
                     sentinel: Seq[(String, DataType, Any)])
    def at(unit: Long)(c: org.apache.spark.sql.Column) = timestamp_micros(c * unit)
    val cases = Seq(
      Gated("line", Seq.empty[(Long, Long)].toDF("h", "n_docs"),
        i => Seq((i.toLong, s"home | about\nbody $i")).toDF("doc_id", "text"),
        (l, b, id) => Streaming.mergeLineLedgerIdempotent(l, b, col("doc_id"), col("text"), id),
        Seq(("h", LongType, null), ("n_docs", LongType, 2L))),
      Gated("kl", Seq.empty[(String, Long, Long)].toDF("g", "b", "n_gb"),
        i => Seq((i.toLong, s"alpha beta w$i", s"s${i % 2}")).toDF("doc_id", "text", "source"),
        (l, b, id) => Streaming.mergeKlLedgerIdempotent(l, b, col("text"), col("source"), id),
        Seq(("g", StringType, null), ("b", LongType, 0L), ("n_gb", LongType, 2L))),
      Gated("psi", Seq.empty[(Long, Long, Long)].toDF("x", "a", "b"),
        i => Seq((i.toLong, 100L * (i + 1), "en"), (10L + i, 100L, "de"))
          .toDF("doc_id", "n_chars", "lang"),
        (l, b, id) => Streaming.mergePsiLedgerIdempotent(l, b, col("n_chars"), col("lang") === "en", id),
        Seq(("x", LongType, null), ("a", LongType, 2L), ("b", LongType, 0L))),
      Gated("quarantine", Seq.empty[(String, Long)].toDF("cat", "n"),
        i => Seq((i.toLong, Option(Seq(1f, i.toFloat))), (10L + i, Option.empty[Seq[Float]]))
          .toDF("vec_id", "embedding"),
        (l, b, id) => Streaming.mergeQuarantineLedgerIdempotent(l, b, col("embedding"), id),
        Seq(("cat", StringType, null), ("n", LongType, 2L))),
      Gated("vocab", Seq.empty[(String, Long)].toDF("tok", "n"),
        i => Seq((i.toLong, s"the cat w$i")).toDF("doc_id", "text"),
        (l, b, id) => Streaming.mergeVocabLedgerIdempotent(l, b, col("text"), id),
        Seq(("tok", StringType, null), ("n", LongType, 2L))),
      Gated("duel", Seq.empty[(String, String, Long)].toDF("win", "lose", "n"),
        i => Seq(("en", "de"), (s"m$i", "fr")).toDF("win", "lose"),
        (l, b, id) => Streaming.mergeDuelLedgerIdempotent(l, b, id),
        Seq(("win", StringType, null), ("lose", StringType, null), ("n", LongType, 2L))),
      Gated("daily-count", Seq.empty[(String, Long, Long)].toDF("k", "day", "c"),
        i => Seq(("k", i.toLong), ("k", 1L)).toDF("k", "d")
          .select(col("k"), at(86400000000L)(col("d")).as("ts")),
        (l, b, id) => Streaming.mergeDailyCountLedgerIdempotent(l, b, col("k"), col("ts"), id),
        Seq(("k", StringType, null), ("day", LongType, 2L), ("c", LongType, 0L))),
      Gated("user-value", Seq.empty[(Long, Long, Long)].toDF("u", "wk", "cw"),
        i => Seq((1L + i, i.toLong, 2.5), (1L, 0L, 1.0)).toDF("u", "w", "v")
          .select(col("u"), at(604800000000L)(col("w")).as("ts"), col("v")),
        (l, b, id) => Streaming.mergeUserValueLedgerIdempotent(l, b, col("u"), col("ts"), col("v"), id),
        Seq(("u", LongType, null), ("wk", LongType, 2L), ("cw", LongType, 0L))))

    cases.foreach { c =>
      val ledger = (0 until 3).foldLeft(c.empty)((l, i) => c.merge(l, c.batch(i), i.toLong))
      val key = c.sentinel.head._1
      val sentinel = ledger.filter(col(key).isNull)
      assert(sentinel.schema.map(f => f.name -> f.dataType) == c.sentinel.map(s => s._1 -> s._2),
        s"${c.name}: sentinel columns")
      assert(sentinel.collect().toSeq == Seq(Row(c.sentinel.map(_._3): _*)),
        s"${c.name}: sentinel row")
      assert(ledger.filter(col(key).isNotNull).count() > 0, s"${c.name}: no data rows")
      val before = ledger.collect().toSet
      assert(c.merge(ledger, c.batch(0), 0L).collect().toSet == before,
        s"${c.name}: replaying batch 0 after batch 2 must be a no-op")
    }
  }

  test("every ledger merge plans exactly one shuffle exchange") {
    // the batch side enters each merge as rows, so the merge's one
    // exchange also does the batch's distinct/count/top-k
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def exchanges(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect { case e: ShuffleExchangeExec => e }.size
    }
    val docs = Seq(
      (1L, "s1", "home\nbody one", 2L, 10L, 1.5, Option(Seq(1f, 2f)), "en", "de"),
      (2L, "s2", "home\nbody two", 3L, 90000000000L, 2.0, Option.empty[Seq[Float]], "de", "fr"))
      .toDF("doc_id", "source", "text", "w", "u", "v", "embedding", "win", "lose")
      .withColumn("ts", timestamp_micros(col("u")))
    val cases: Seq[(String, DataFrame, (DataFrame, Long) => DataFrame)] = Seq(
      ("line", Seq.empty[(Long, Long)].toDF("h", "n_docs"),
        (l, id) => Streaming.mergeLineLedgerIdempotent(l, docs, col("doc_id"), col("text"), id)),
      ("kl", Seq.empty[(String, Long, Long)].toDF("g", "b", "n_gb"),
        (l, id) => Streaming.mergeKlLedgerIdempotent(l, docs, col("text"), col("source"), id)),
      ("psi", Seq.empty[(Long, Long, Long)].toDF("x", "a", "b"),
        (l, id) => Streaming.mergePsiLedgerIdempotent(l, docs, col("w"), col("source") === "s1", id)),
      ("quarantine", Seq.empty[(String, Long)].toDF("cat", "n"),
        (l, id) => Streaming.mergeQuarantineLedgerIdempotent(l, docs, col("embedding"), id)),
      ("vocab", Seq.empty[(String, Long)].toDF("tok", "n"),
        (l, id) => Streaming.mergeVocabLedgerIdempotent(l, docs, col("text"), id)),
      ("duel", Seq.empty[(String, String, Long)].toDF("win", "lose", "n"),
        (l, id) => Streaming.mergeDuelLedgerIdempotent(l, docs, id)),
      ("daily-count", Seq.empty[(String, Long, Long)].toDF("k", "day", "c"),
        (l, id) => Streaming.mergeDailyCountLedgerIdempotent(l, docs, col("source"), col("ts"), id)),
      ("user-value", Seq.empty[(Long, Long, Long)].toDF("u", "wk", "cw"),
        (l, id) => Streaming.mergeUserValueLedgerIdempotent(l, docs, col("doc_id"), col("ts"), col("v"), id)),
      ("activity", Seq.empty[(Long, Long)].toDF("user_id", "wk"),
        (l, _) => Streaming.mergeActivityLedger(l, docs, col("doc_id"), col("ts"))),
      ("overlap", Seq.empty[(String, String)].toDF("src", "h"),
        (l, _) => Streaming.mergeOverlapLedger(l, docs, col("source"), col("text"))),
      ("priority-sample", Seq.empty[(String, Long, Long, Long)].toDF("grp", "doc_id", "weight", "priority"),
        (l, _) => Streaming.mergePrioritySampleLedger(l, docs, col("source"), col("doc_id"), col("w"), 1)),
      ("kmv", Seq.empty[(String, Long)].toDF("src", "h"),
        (l, _) => Streaming.mergeKmvLedger(l, docs, col("source"), col("text"), 4)),
      ("bloom", Seq.empty[(Int, Long)].toDF("word", "wbits"),
        (l, _) => Streaming.mergeBloomLedger(l, docs, col("text"), 1024)))
    cases.foreach { case (name, empty, merge) =>
      // a stored, non-empty ledger: a leaf of the plan, like a parquet read
      val ledger = merge(empty, 0L).localCheckpoint()
      val next = merge(ledger, 1L)
      assert(exchanges(next) == 1, s"$name:\n${next.queryExecution.executedPlan}")
    }
  }

  test("line merge: a NULL doc_id counts as one doc, a doc_id repeated across rows once") {
    // lineFrequencies counts distinct (h, doc_id) pairs and keeps one
    // NULL doc; the merge must too, and its NULL batch doc must not
    // collapse into a ledger row that happens to hold n_docs = 1
    import spark.implicits._
    val b1 = Seq((Option(1L), "a\nb"), (Option(1L), "a\nd"))
    val b2 = Seq((Option.empty[Long], "a\nc"), (Option.empty[Long], "a"), (Option(2L), "e\ne"))
    val ledger = Seq(b1, b2).zipWithIndex.foldLeft(Seq.empty[(Long, Long)].toDF("h", "n_docs")) {
      case (l, (b, i)) => Streaming.mergeLineLedgerIdempotent(l, b.toDF("doc_id", "text"),
        col("doc_id"), col("text"), i.toLong).localCheckpoint()
    }
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val expected = graft.llm.Dedup.lineFrequencies(
      graft.llm.Dedup.explodeLines(all, col("doc_id"), col("text")))
      .as[(Long, Long)].collect().toSet
    assert(ledger.filter(col("h").isNotNull).as[(Long, Long)].collect().toSet == expected)
    assert(expected.toSeq.map(_._2).sorted == Seq(1L, 1L, 1L, 1L, 2L),
      s"a: docs {1, NULL}; b, c, d, e: one doc each: $expected")
  }

  test("line ledger across a restart: a batch that dies after its ledger commit re-runs as a no-op") {
    // the ledger lives in versioned parquet directories v<batchId> plus a
    // pointer file committed by rename; the first run dies after batch 1
    // commits its ledger but before Spark commits the batch, so the
    // restarted query re-runs batch 1 against a ledger that already holds it
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import java.nio.file.{Files, Path, StandardCopyOption}
    val docs = Seq(
      Seq((1L, "home | about\nunique one"), (2L, "home | about\nbody two")),
      Seq((3L, "copyright X\nhome | about"), (4L, "home | about\nhome | about")),
      Seq((5L, "copyright X\nclosing five")))
    def tmp(p: String) = Files.createTempDirectory(p)
    def drop(input: Path, i: Int): Unit = {
      val f = Files.createTempFile("graft_ledger_doc", ".json")
      Files.write(f, docs(i).toDF("doc_id", "text").toJSON.collect().mkString("\n").getBytes("UTF-8"))
      Files.move(f, input.resolve(s"docs$i.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    def load(store: Path): DataFrame = {
      val pointer = store.resolve("current")
      if (Files.exists(pointer)) spark.read.parquet(store.resolve(Files.readString(pointer)).toString)
      else Seq.empty[(Long, Long)].toDF("h", "n_docs")
    }
    val runs = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    @volatile var replayMatched = true
    def start(input: Path, ckpt: Path, store: Path, failBatch: Long) =
      spark.readStream.schema("doc_id LONG, text STRING").option("maxFilesPerTrigger", "1")
        .json(input.toString).writeStream.option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val attempt = runs.merge(batchId, 1, _ + _)
          val merged = Streaming.mergeLineLedgerIdempotent(load(store), batch,
            col("doc_id"), col("text"), batchId)
          val version = store.resolve(s"v$batchId")
          if (Files.exists(version)) {
            // a committed version is immutable: the replay must reproduce it
            val stored = spark.read.parquet(version.toString)
            replayMatched &&= merged.exceptAll(stored).isEmpty && stored.exceptAll(merged).isEmpty
          } else {
            merged.write.parquet(version.toString)
            val next = Files.writeString(store.resolve("current.tmp"), s"v$batchId")
            Files.move(next, store.resolve("current"), StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          }
          if (batchId == failBatch && attempt == 1) throw new IllegalStateException("injected crash")
        }.start()

    val (input, ckpt, store) = (tmp("graft_ledger_in"), tmp("graft_ledger_ckpt"), tmp("graft_ledger_store"))
    val first = start(input, ckpt, store, failBatch = 1L)
    drop(input, 0); first.processAllAvailable()
    drop(input, 1)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](first.processAllAvailable())
    assert(Files.readString(store.resolve("current")) == "v1", "batch 1 committed its ledger")
    val restarted = start(input, ckpt, store, failBatch = 1L)
    restarted.processAllAvailable()
    drop(input, 2); restarted.processAllAvailable()
    restarted.stop()
    assert(runs.get(1L) == 2, s"batch 1 must run twice: $runs")
    assert(replayMatched, "the re-run batch 1 must reproduce the committed v1")
    val recovered = load(store).as[(Option[Long], Long)].collect().toSet

    runs.clear()
    val (input2, ckpt2, store2) = (tmp("graft_ledger_in2"), tmp("graft_ledger_ckpt2"), tmp("graft_ledger_store2"))
    val straight = start(input2, ckpt2, store2, failBatch = -1L)
    docs.indices.foreach { i => drop(input2, i); straight.processAllAvailable() }
    straight.stop()
    assert(recovered == load(store2).as[(Option[Long], Long)].collect().toSet,
      "the restarted ledger must equal an uninterrupted run")
    val expected = graft.llm.Dedup.lineFrequencies(graft.llm.Dedup.explodeLines(
      docs.flatten.toDF("doc_id", "text"), col("doc_id"), col("text")))
      .as[(Long, Long)].collect().map { case (h, n) => (Option(h), n) }.toSet
    assert(recovered == expected + ((None, 2L)), "ledger = lineFrequencies plus the batch-2 sentinel")
  }
}
