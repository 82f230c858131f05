package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import perfbench.Main.Ctx

/** The `batch` workload: one closed-loop client running the engine's
  * query functions (`SparkEntry.queries`) over two fixed corpora.
  *
  * - light: the reference's transducer/KStream surface (`CoreQueries`)
  *   plus its KTable and interactive-store verbs from `AggQueries`, on a
  *   tiny corpus. Per-query fixed cost dominates: analysis, codegen, job
  *   scheduling, eager construction jobs.
  * - heavy: the per-query backlog and the slowest kernels on 4 cores, on a
  *   ten times larger corpus. Executor CPU, shuffle and GC dominate.
  *
  * Set-up runs every query once, untimed, and writes its result for the
  * compare with the stored oracle digests in `run.py`; that pass is also
  * the warm-up. The timed window then runs a fixed number of whole passes
  * over all queries, each pass in an order drawn from the seed. */
object BatchLoad {
  type Q = (SparkSession, String) => DataFrame

  /** (query, corpus, entry module). */
  val Queries: Seq[(String, String, String)] =
    graft.entry.CoreQueries.queries.keys.toSeq.sorted.map(q => (q, "light", "CoreQueries")) ++
      Seq("q_latest_by_key", "q_store_all", "q_store_get", "q_store_range")
        .map(q => (q, "light", "AggQueries")) ++
      Seq("q_cdc_chunks", "q_item_cf", "q_adamic_adar", "q_jaccard_join", "q_rank_eval",
        "q_conformal").map(q => (q, "heavy", "heavy"))

  /** Timed passes of a run: one per 2 s of `seconds`, at least 3. The
    * count is fixed by the benchmark's arguments, never by how fast the
    * engine is, so every query has the same number of samples at every
    * commit and its median is a median of at least three. */
  def passes(seconds: Int): Int = math.max(3, seconds / 2)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val qs = Queries.map { case (name, corpus, module) =>
      (name, corpora(corpus), module, SparkEntry.queries(name))
    }
    // the heavy corpus is the larger one, so its largest table sizes the policy
    graft.core.Scale.configure(spark,
      graft.core.Scale.maxInputRows(spark, corpora("heavy")), cores)

    val resultDir = new File(outDir, "results")
    val oracle = SparkEntry.oracleSql
    log.writeJson(new File(outDir, "oracle_sql.json"),
      qs.map(_._1).filter(oracle.contains).map(n => n -> oracle(n)).toMap)
    // The check pass is untimed set-up, so it runs `cores` queries at a
    // time, heavy ones first, each in its own cache scope
    // (`graft.core.Caches.scope`).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      qs.sortBy(_._3 != "heavy").map { case (name, dir, _, fn) =>
        pool.submit(new Runnable { def run(): Unit = checkRun(ctx, name, dir, fn, resultDir) })
      }.foreach(_.get())
    } finally pool.shutdown()
    interPass(ctx)

    val rng = new scala.util.Random(seed)
    val start = Clock.nowNs
    val cpu0 = Clock.cpuNs
    log.write("first_timed", "t_ns" -> start)
    val n = passes(seconds)
    for (pass <- 0 until n) {
      rng.shuffle(qs).foreach { case (name, dir, module, fn) =>
        sample(ctx, name, dir, module, fn, pass)
      }
      interPass(ctx)
    }
    val end = Clock.nowNs
    log.write("window", "start_ns" -> start, "end_ns" -> end, "passes" -> n,
      "cpu_ns" -> (Clock.cpuNs - cpu0))
  }

  /** Run one query untimed and write its result for the oracle-digest
    * compare. */
  private def checkRun(ctx: Ctx, name: String, dir: String, fn: Q, resultDir: File): Unit = {
    import ctx._
    val t0 = Clock.nowNs
    val err = try {
      // collect() is the action the timed samples run, so this pass also
      // compiles exactly their generated code; the rows are then written
      // from the driver as one parquet file
      val (df, scope) = graft.core.Caches.scope(tagged(s"$name#check")(fn(spark, dir)))
      val rows = try tagged(s"$name#check")(df.collect()) finally scope.close()
      tagged(s"$name#check") {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(new File(resultDir, name).getPath)
      }
      None
    } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(500)) }
    log.write("check_run", "name" -> name, "corpus" -> new File(dir).getName,
      "error" -> err.orNull, "ms" -> (Clock.nowNs - t0) / 1e6)
  }

  /** One timed query: construction (the query-function call, including
    * any eager jobs it runs) then execution: `collect()`, the action a
    * caller runs to get the result. */
  private def sample(ctx: Ctx, name: String, dir: String, module: String, fn: Q,
                     pass: Int): Unit = {
    import ctx._
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val cg0 = cg.getCount
    val t0 = Clock.nowNs
    var t1 = t0
    var phases = Map.empty[String, Long]
    val err = try {
      val df = tagged(s"$name#construct")(fn(spark, dir))
      t1 = Clock.nowNs
      tagged(s"$name#execute")(df.collect())
      phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      None
    } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(500)) }
    finally graft.llm.Dedup.releaseCaches()
    val t2 = Clock.nowNs
    if (err.nonEmpty && t1 == t0) t1 = t2
    val cgN = cg.getCount - cg0
    log.write("query", "name" -> name, "module" -> module, "pass" -> pass,
      "construct_ms" -> (t1 - t0) / 1e6, "execute_ms" -> (t2 - t1) / 1e6,
      "start_ns" -> t0, "error" -> err.orNull,
      "analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "codegen_classes" -> cgN,
      "codegen_compile_ms" -> (if (cgN > 0) cgN * cg.getSnapshot.getMean else 0.0))
  }

  /** Pass-boundary hygiene, as `graft.Bench` does it: drop cached
    * relations and collect garbage so one pass's heap does not tax the
    * next. */
  private def interPass(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    System.gc()
  }
}
