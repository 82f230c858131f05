package graft.core

import org.apache.spark.sql.SparkSession

/** The one session policy: Bench, Verify and PlanDump open
  * [[session]], so the oracle gate, plan dumps and timings run the same
  * plans. [[builder]] is the static part (SparkSpec builds on it too),
  * [[configure]] the input-size-derived part (guide §2.6):
  *
  * - AQE is a runtime trade: stage-wise execution + re-planning costs a
  *   measured ~0.3 s of barrier latency per shuffle query and pays for
  *   itself (skew split, runtime coalesce) only when stages process
  *   enough data to dwarf that. Enabled when the largest input table
  *   crosses [[AqeRowThreshold]]; plan SHAPES are identical either way
  *   (PlanSpec asserts them with AQE on).
  * - Below that threshold AQE cannot coalesce, so the partition count
  *   is sized from the input: ceil(rows / [[RowsPerPartition]]) clamped
  *   to 1..cores. The count reaches every stage the session plans —
  *   batch shuffles, each stateful operator's state partitions (one
  *   state-store commit per partition per trigger; fixed when a
  *   streaming query first starts, so a checkpoint keeps its count) and
  *   the ledger merges in `foreachBatch`. A floor above the data size
  *   only adds tasks and commits. On 4 cores both benchmark workloads
  *   (`stream` ~64k offered rows, `batch` heavy corpus 60k rows) size
  *   to 2 partitions; medians, `perfbench/run.py --seconds 6`:
  *
  *   | floor | parts | stream event latency p50 | state commit p50 | tasks stream / batch |
  *   |---|---|---|---|---|
  *   | 8 | 8 | 1432 ms | 1647 ms | 1234 / 399 |
  *   | min(8, cores) | 4 | 999 ms | | |
  *   | none (data-sized) | 2 | 761 ms | 201 ms | 620 / 184 |
  *
  *   The heavy set's total stayed flat and the light set got faster.
  *   Two CPU-bound pair-unroll kernels paid for it at 2 tasks (q_item_cf
  *   1.13 -> 1.40 s, q_adamic_adar 0.83 -> 1.02 s per pass); they now
  *   score their pairs in one task whatever the count
  *   ([[graft.graph.SmallGraph.pairTopK]]: 0.29-0.31 s and 0.29-0.32 s
  *   per pass, traced `batch`, 4 cores). At
  *   lake scale the AQE branch governs and this one never fires; on a
  *   real cluster the starting partition count stays the core count and
  *   AQE's advisory size does the coalescing.
  * - `file:` is [[LocalFs]]'s fork-free filesystem: [[builder]] sets it,
  *   [[configure]] installs it on a session built elsewhere. Without
  *   `libhadoop.so`, the stock one forks `readlink` on every checkpoint
  *   rename and `chmod` on every file and directory it creates, on the
  *   stream-execution thread and inside state-store commits. 4 cores,
  *   `perfbench/run.py --seconds 6`, `stream`:
  *
  *   | `file:` | forks per run | readlink / chmod | wal commit | state commit p50 | trigger | event latency p50 |
  *   |---|---|---|---|---|---|---|
  *   | stock | 2730 | 1904 / 820 | 32 ms | 203-227 ms | 512-533 ms | 786 ms |
  *   | fork-free | 6 | 0 / 0 | 2-3 ms | 16-20 ms | 318-362 ms | 485 ms |
  *
  *   (forks: one JFR recording, seed 101; the 6 left are Spark's
  *   start-up `setsid`/`getconf` and shutdown `rm`. Layer times: traced
  *   seeds 101-103; latency: medians of 10 pairs.) Per call: a
  *   `readlink` or `chmod` fork ~3.2 ms, the nio chmod ~0.006 ms.
  */
object Scale {
  val AqeRowThreshold = 5000000L
  /** Target rows per post-shuffle partition below the AQE threshold —
    * small enough that a skew-free aggregate stays parallel, large
    * enough that per-task scheduling overhead stops dominating. */
  val RowsPerPartition = 50000L

  /** Task slots for a runner: `SPARK_GRAFT_CPUS`, else this host's cores. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The static policy: `local[cores]`, one shuffle partition per core,
    * UTC, no UI, and Locale.ROOT (a tr_TR JVM lower-cases I→ı in Spark's
    * non-ASCII lower() and breaks oracle parity with DuckDB). The codegen
    * cache must be sized before the session exists: Janino's default 100
    * classes cannot hold one pass of the suite, so a second pass re-paid
    * every compile (~50-150 ms each). */
  def builder(cores: Int): SparkSession.Builder = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config(LocalFs.Impl.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
  }

  /** [[builder]], WARN logging, [[configure]] for `sfDir`'s inputs. */
  def session(sfDir: String, cores: Int): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark, maxInputRows(spark, sfDir), cores)
    spark
  }

  /** Largest table row count under sfDir — the probe that picks the
    * AQE mode. Events are read through `rawEvents`, which owns the
    * TIMESTAMP(NANOS) read conf, so any session can count them. */
  def maxInputRows(spark: SparkSession, sfDir: String): Long = {
    import graft.sources.Tables
    (0L +: Tables.names.map(n => scala.util.Try(
      (if (n == "events") Tables.rawEvents(spark, sfDir)
       else Tables.table(spark, sfDir, n)).count()).getOrElse(0L))).max
  }

  /** The policy a live session runs under, read back from its conf as a
    * JSON object — `{"cores":…,"aqe":…,"shuffle_partitions":…,"local_fs":…}`
    * (`local_fs`: the class behind `file:` in its Hadoop conf) — so a
    * report line says which policy produced its numbers. */
  def policyJson(spark: SparkSession): String = {
    val c = spark.conf
    s"""{"cores":${spark.sparkContext.defaultParallelism}""" +
      s""","aqe":${c.get("spark.sql.adaptive.enabled").trim.toBoolean}""" +
      s""","shuffle_partitions":${c.get("spark.sql.shuffle.partitions").trim.toInt}""" +
      s""","local_fs":"${LocalFs.className(spark.sessionState.newHadoopConf())}"}"""
  }

  /** Apply the scale-adaptive settings for an input of `maxRows`. */
  def configure(spark: SparkSession, maxRows: Long, cores: Int): Unit = {
    val aqe = maxRows > AqeRowThreshold
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    if (!aqe) {
      val parts = math.max(1L,
        math.min(cores.toLong, (maxRows + RowsPerPartition - 1) / RowsPerPartition))
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    }
    // DriverFold's limit(cap+1) probe (executeTake) would scan 1, 4, 16…
    // partitions as separate jobs; starting at the partition count
    // collects a domain-sized relation in ONE job, like collect().
    spark.conf.set("spark.sql.limit.initialNumPartitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    // ObjectHashAggregate (TypedImperativeAggregate partials: GramMatrixQ,
    // TopKScoreIds, collect_set) falls back to SORT-based aggregation
    // after 128 distinct keys per task by default — which re-sorts the
    // very relation the bounded-buffer aggregates exist to avoid sorting
    // (TopKScoreIds over a |queries|-group panel would sort the 100 M-pair
    // relation again). The engine's object-agg buffers are all bounded
    // (dim² longs, k ids, ≤maxDeg sets), so 64k in-memory group buffers
    // is a few MB per task — far under executor memory at any scale.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    // a session not built by `builder` (the benchmark's) still gets the
    // fork-free `file:` filesystem before its first checkpoint commit
    LocalFs.install(spark.sparkContext.hadoopConfiguration)
  }
}
