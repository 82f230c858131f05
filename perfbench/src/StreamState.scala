package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{Pipe, Xform}
import graft.state.StateView
import graft.streaming.Streaming

/** One keyed event. `ts` is event time; the generator's due time is kept
  * beside the stream in the chunk log, not in the row. */
final case class Ev(event_id: Long, key: Long, ts: Timestamp, value: Long)

/** The state query of the `stream` workload: the paper's own execution model. Events with
  * Zipf-skewed keys, redelivered duplicates and bounded out-of-order
  * event time pass through an `Xform` filter/map, a watermarked dedup and
  * a per-key tumbling count/sum into a memory sink read by `StateView`.
  *
  * While it runs, one client looks state up at a fixed rate. The final
  * sink must equal a recomputation of the same events. */
object StreamState {
  val Keys = 20000
  val ZipfS = 1.1
  val WindowMs = 10000L
  val Watermark = "5 seconds"
  /** Event time runs 1 ms per new event; disorder stays below 1.5 s, far
    * inside the watermark, so no event is late and the result is exact. */
  val JitterMs = 1000
  val DupShare = 0.05
  val DupLagEvents = 500
  val WarmupChunks: Seq[Int] = Seq(2000, 12500)
  val BacklogChunks: Seq[Int] = Seq.fill(3)(12500)
  /** Paced-phase offered rate, events/s. The backlog drains at about
    * 6,000 events/s on 4 cores (medians of ten runs, DESIGN.md); at
    * 2,000/s, about a third of that, the lag stays bounded and latency
    * shows the per-trigger fixed cost, not queueing. */
  val OfferedPerSec = 2000
  /** Lookup client: one StateView call every 500 ms, alternating
    * `get` and a 20-key `range`. */
  val LookupEveryMs = 500L
  val RangeWidth = 20

  /** Seeded generator; every event it creates is kept for the check. */
  final class Gen(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val zipf = new Zipf(Keys, ZipfS, rng)
    private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    private var seq = 0L
    private val pending = scala.collection.mutable.PriorityQueue.empty[(Long, Ev)](
      Ordering.by[(Long, Ev), Long](_._1).reverse)
    val created = scala.collection.mutable.ArrayBuffer.empty[Ev]

    def next(n: Int): Seq[Ev] = Seq.fill(n) {
      if (pending.nonEmpty && pending.head._1 <= seq) pending.dequeue()._2
      else {
        val e = Ev(seq, zipf.next().toLong,
          new Timestamp(t0 + seq - rng.nextInt(JitterMs)), 1L + rng.nextInt(1000))
        created += e
        if (rng.nextDouble() < DupShare) pending.enqueue((seq + 1 + rng.nextInt(DupLagEvents), e))
        seq += 1
        e
      }
    }

    def key(): Long = zipf.next().toLong
  }

  /** Start the query; `lookups` then runs the StateView client. */
  final class Running(ctx: Main.Ctx) extends Pipeline {
    import ctx._
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val gen = new Gen(seed)
    private val source = MemoryStream[Ev]
    val kit = new StreamKit(ctx, "perfbench_state", source)
    spark.streams.addListener(kit.listener)

    private val t0 = Clock.nowNs
    private val topology = tagged("topology#construct") {
      val clean = Pipe.pipe(
        Xform.xfilter(col("value") % 10 =!= 0),
        Xform.xmap(col("event_id"), col("key"), col("ts"), col("value")))(source.toDF())
      val deduped = Streaming.distinctWithinWatermark(clean, "ts", Watermark, Seq("event_id"))
      Streaming.tumblingChained(deduped, "ts", s"${WindowMs / 1000} seconds",
        Seq(col("key")), Seq(count(lit(1)).as("n"), sum(col("value")).as("s")))
    }
    log.write("construct", "name" -> kit.name, "ms" -> (Clock.nowNs - t0) / 1e6)
    val query = topology.writeStream.format("memory").queryName(kit.name)
      .outputMode("update").trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", new File(outDir, "ckpt-state").getPath).start()
    private val view = new StateView(spark, kit.name, "key")
    // generated in offer order: warm-up, backlog, then paced ticks
    private val warm = WarmupChunks.map(n => gen.next(sized(n)))
    private val backlogs = BacklogChunks.map(n => gen.next(sized(n)))

    def warmup(): Unit = {
      warm.foreach(c => kit.offer(c, Clock.nowMs, "warmup"))
      query.processAllAvailable()
    }

    def backlogSizes: Seq[Int] = backlogs.map(_.size)

    def backlog(i: Int): Int = {
      kit.offer(backlogs(i), Clock.nowMs, "backlog")
      backlogs(i).size
    }

    def tick(dueMs: Long): Unit =
      kit.offer(gen.synchronized(gen.next(sized(OfferedPerSec * StreamLoad.TickMs.toInt / 1000))), dueMs, "paced")

    /** Open-loop lookup client: one call due every `LookupEveryMs`. */
    def lookups(): Thread = new Thread(() => {
      val start = Clock.nowMs
      var j = 0L
      while (j * LookupEveryMs < seconds * 1000L) {
        val due = start + j * LookupEveryMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait)
        val k = gen.synchronized(gen.key())
        val op = if (j % 2 == 0) "get" else "range"
        val s = Clock.nowNs
        val (rows, err) = try {
          val got = tagged(s"lookup#$op") {
            if (op == "get") view.get(k).collect() else view.range(k, k + RangeWidth).collect()
          }
          (got.length, null)
        } catch { case e: Throwable => (0, String.valueOf(e.getMessage).take(300)) }
        log.write("lookup", "op" -> op, "due_ms" -> due, "start_ns" -> s,
          "end_ns" -> Clock.nowNs, "rows" -> rows, "error" -> err)
        j += 1
      }
    })

    def check(): Unit = StreamState.check(ctx, kit.name, gen.created.toSeq)
  }

  /** The sink holds one row per (key, window) per batch that updated it;
    * counts and sums only grow, so the largest row is the final value. It
    * must equal the recomputation over every distinct generated event. */
  private def check(ctx: Main.Ctx, table: String, created: Seq[Ev]): Unit = {
    val expected = created.filter(_.value % 10 != 0)
      .groupBy(e => (e.key, e.ts.getTime / WindowMs * WindowMs))
      .map { case (k, es) => k -> (es.size.toLong, es.map(_.value).sum) }
    val actual = ctx.spark.table(table)
      .select(col("key"), col("window_start"), col("n"), col("s")).collect()
      .groupBy(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .map { case (k, rs) => k -> rs.map(r => (r.getLong(2), r.getLong(3))).max }
    val wrong = (expected.keySet ++ actual.keySet).count(k => expected.get(k) != actual.get(k))
    ctx.log.write("check", "name" -> "sink_equals_recomputation",
      "ok" -> (wrong == 0), "groups" -> expected.size, "wrong_groups" -> wrong)
  }
}
