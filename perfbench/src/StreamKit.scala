package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The offer side of one streaming query: what the generator offered to
  * its `MemoryStream`, and a progress listener that logs every
  * micro-batch of the query named `name`. */
final class StreamKit[A](ctx: Main.Ctx, val name: String, source: MemoryStream[A]) {
  /** MemoryStream offset -> rows offered up to and including it. */
  private val rowsAt = new ConcurrentHashMap[Long, Long]()
  private val offered = new AtomicLong()
  @volatile private var committed = 0L

  /** Offer one chunk; logs its offset, due time and generator slip. */
  def offer(rows: Seq[A], dueMs: Long, phase: String): Unit = synchronized {
    val off = source.addData(rows).json().toLong
    rowsAt.put(off, offered.addAndGet(rows.size))
    ctx.log.write("chunk", "stream" -> name, "offset" -> off, "rows" -> rows.size,
      "due_ms" -> dueMs, "sent_ms" -> Clock.nowMs, "phase" -> phase)
  }

  val listener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = if (e.progress.name == name) {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val end = Option(p.sources).flatMap(_.headOption).flatMap(s => Option(s.endOffset))
        .map(_.toLong).getOrElse(-1L)
      val through = if (end < 0) committed else rowsAt.getOrDefault(end, committed)
      val batchRows = through - committed
      committed = through
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      ctx.log.write("progress", "stream" -> name, "batch_id" -> p.batchId,
        "start_ms" -> startMs, "duration_ms" -> dur, "rows" -> batchRows,
        "end_offset" -> end, "commit_ms" -> (startMs + dur.getOrElse("triggerExecution", 0L)),
        "lag_rows" -> (offered.get() - through),
        "state_rows_total" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_all_updates_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "state_rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }
}

/** One running streaming query of the `stream` workload: its query, and
  * how the generator feeds it in each phase. */
trait Pipeline {
  def kit: StreamKit[_]
  def query: StreamingQuery
  /** Offer warm-up data and wait until it is processed. */
  def warmup(): Unit
  def backlogSizes: Seq[Int]
  /** Offer backlog chunk `i`; returns its row count. */
  def backlog(i: Int): Int
  /** Offer the rows due at a paced tick. */
  def tick(dueMs: Long): Unit
  /** After the query stopped: check its final output. */
  def check(): Unit
}

/** Seeded Zipf sampler over `0 until n`. */
final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
  private val cdf = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
