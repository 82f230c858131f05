package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

/** One generated document: a few lines, some drawn from a shared pool of
  * repeated (boilerplate) lines. */
final case class Doc(doc_id: Long, source: String, text: String)

/** The ledger query of the `stream` workload: `foreachBatch` ingest into
  * persisted ledgers. Each
  * micro-batch reads the line ledger's high-water mark, merges through
  * `Streaming.mergeLineLedgerIdempotent` and `Streaming.mergeKmvLedger`,
  * writes both ledgers as a new parquet version and re-reads them for the
  * next batch, so the cost grows with the ledgers, unlike the per-key
  * state of the state query. One batch is delivered twice and must change
  * nothing; the final line ledger must equal `Dedup.lineFrequencies`
  * over every generated document. */
object StreamLedger {
  val Sources = 8
  val PoolLines = 400
  val RepeatedShare = 0.4
  val KmvK = 64
  val WarmupChunks: Seq[Int] = Seq(200)
  val BacklogChunks: Seq[Int] = Seq.fill(3)(2000)
  /** Paced-phase offered rate, documents/s: about a third of what the
    * backlog drains at on 4 cores (1,200 documents/s). */
  val OfferedPerSec = 400
  private val Words = ("row the query stream fast spark line small customer group value " +
    "hash batch sort data big filter dup key agg scan slow table part merge window").split(" ")

  final class Gen(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val pool = Vector.tabulate(PoolLines)(i => s"boilerplate $i " + words(4))
    private val zipf = new Zipf(PoolLines, 1.0, rng)
    private var next = 0L
    val created = scala.collection.mutable.ArrayBuffer.empty[Doc]

    private def words(n: Int): String = Seq.fill(n)(Words(rng.nextInt(Words.length))).mkString(" ")

    def docs(n: Int): Seq[Doc] = Seq.fill(n) {
      val id = next
      next += 1
      val lines = Seq.fill(3 + rng.nextInt(8)) {
        if (rng.nextDouble() < RepeatedShare) pool(zipf.next()) else s"doc $id " + words(6)
      }
      val d = Doc(id, s"src${rng.nextInt(Sources)}", lines.mkString("\n"))
      created += d
      d
    }
  }

  final class Running(ctx: Main.Ctx) extends Pipeline {
    import ctx._
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val gen = new Gen(seed)
    private val source = MemoryStream[Doc]
    val kit = new StreamKit(ctx, "perfbench_ledger", source)
    spark.streams.addListener(kit.listener)

    private val dir = new File(outDir, "ledgers")
    private var version = 0
    private var line: DataFrame = Seq.empty[(Long, Long)].toDF("h", "n_docs")
    private var kmv: DataFrame = Seq.empty[(String, Long)].toDF("src", "h")

    /** One ledger round: HWM-gated line merge and KMV merge, a new parquet
      * version of each, and the re-read the next batch merges into. */
    private def step(batch: DataFrame, batchId: Long, replay: Boolean): (DataFrame, DataFrame) = {
      val t0 = Clock.nowNs
      val nextLine = tagged("ledger#hwm") {
        Streaming.mergeLineLedgerIdempotent(line, batch, col("doc_id"), col("text"), batchId)
      }
      val nextKmv = Streaming.mergeKmvLedger(kmv, batch, col("source"), col("text"), KmvK)
      val t1 = Clock.nowNs
      version += 1
      val linePath = new File(dir, s"line/v$version").getPath
      val kmvPath = new File(dir, s"kmv/v$version").getPath
      tagged("ledger#write") {
        nextLine.write.parquet(linePath)
        nextKmv.write.parquet(kmvPath)
      }
      val t2 = Clock.nowNs
      val reread = tagged("ledger#write") {
        (spark.read.parquet(linePath), spark.read.parquet(kmvPath))
      }
      val t3 = Clock.nowNs
      log.write("ledger", "batch_id" -> batchId, "replay" -> replay, "start_ns" -> t0,
        "hwm_ns" -> (t1 - t0), "write_ns" -> (t2 - t1), "reread_ns" -> (t3 - t2), "end_ns" -> t3)
      reread
    }

    private val t0 = Clock.nowNs
    private val writer = tagged("topology#construct") {
      source.toDS().writeStream.queryName(kit.name)
        .foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
          val df = batch.toDF()
          val after = step(df, batchId, replay = false)
          line = after._1; kmv = after._2
          // the warm-up batch is delivered a second time, as an
          // at-least-once source would after a failure; it must be a no-op
          if (batchId == 0) {
            val again = step(df, batchId, replay = true)
            val same = sameRows(line, again._1) && sameRows(kmv, again._2)
            log.write("check", "name" -> "redelivered_batch_is_noop", "ok" -> same,
              "batch_id" -> batchId)
            line = again._1; kmv = again._2
          }
        }
    }
    log.write("construct", "name" -> kit.name, "ms" -> (Clock.nowNs - t0) / 1e6)
    val query = writer.trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", new File(outDir, "ckpt-ledger").getPath).start()
    // generated in offer order: warm-up, backlog, then paced ticks
    private val warm = WarmupChunks.map(n => gen.docs(sized(n)))
    private val backlogs = BacklogChunks.map(n => gen.docs(sized(n)))

    def warmup(): Unit = warm.foreach { c =>
      kit.offer(c, Clock.nowMs, "warmup")
      query.processAllAvailable()
    }

    def backlogSizes: Seq[Int] = backlogs.map(_.size)

    def backlog(i: Int): Int = {
      kit.offer(backlogs(i), Clock.nowMs, "backlog")
      backlogs(i).size
    }

    def tick(dueMs: Long): Unit = kit.offer(gen.docs(sized(OfferedPerSec * StreamLoad.TickMs.toInt / 1000)), dueMs, "paced")

    def check(): Unit = {
      val all = gen.created.toSeq.toDF()
      val expected = graft.llm.Dedup.lineFrequencies(
        graft.llm.Dedup.explodeLines(all, col("doc_id"), col("text")))
      val finalLine = line.filter(col("h").isNotNull)
      val lineRows = finalLine.count()
      log.write("check", "name" -> "line_ledger_equals_lineFrequencies",
        "ok" -> sameRows(finalLine, expected), "rows" -> lineRows)
      val expectedKmv = Streaming.mergeKmvLedger(
        Seq.empty[(String, Long)].toDF("src", "h"), all, col("source"), col("text"), KmvK)
      log.write("check", "name" -> "kmv_ledger_equals_one_shot",
        "ok" -> sameRows(kmv, expectedKmv))
      log.write("ledger_size", "line_rows" -> lineRows)
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}
