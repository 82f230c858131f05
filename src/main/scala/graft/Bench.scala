package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Perf harness (driver-run): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR (SPARK_GRAFT_ONLY=q_a,q_b times just those).
  *
  * One fixed sample plan: a warm-up, then exactly three passes over the
  * selected queries, each query's figure the minimum of its three
  * samples. A run takes exactly 3·n samples; no rule decides which
  * query gets an extra one. The passes are interleaved (pass 1 over
  * every query, then pass 2, then pass 3), so a localized machine-load
  * spike can hit at most one or two of a query's samples, and they are
  * successor-disjoint ([[passOrders]]): no query follows the same
  * predecessor in two passes, so a heavy query's GC/heap wake stains a
  * different neighbour each time and the minimum discards it.
  * Contention only ever inflates a timing.
  *
  * Output: the full per-query JSON line first (on an unfiltered run also
  * written to ./BENCH_FULL.json, with every raw sample, its epoch start,
  * and each query's Spark jobs and stages in the last pass), then a
  * compact final line — total + slowest queries — sized to fit the
  * driver's 2000-char stdout tail window. Each sample is appended to
  * ./BENCH_SAMPLES.jsonl the moment it finishes, with its jobs, stages
  * and, on failure, the error, so a killed run still leaves its data.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One timed sample: seconds (infinite when the query failed), epoch
    * start, the Spark jobs and stages it ran, and the failure message. */
  private[graft] final case class Sample(secs: Double, epoch: Long, jobs: Int,
                                         stages: Int, error: Option[String]) {
    /** Seconds as reported: -1 for a failed run. */
    def reported: Double = if (secs.isInfinity) -1.0 else secs
  }

  /** The three pass orders over `n` sorted queries, as indices:
    * ascending, descending, then odd indices before even ones. Pass 2
    * turns every adjacent pair (i, i+1) of pass 1 into (i+1, i); pass 3
    * steps by 2, and its one seam (last odd index → 0) steps back by at
    * least 3 once n ≥ 4, so none of its adjacent indices differ by 1.
    * Hence no ordered adjacent pair repeats across the passes. A
    * rotation (the earlier pass 2) kept every pair but the wrap-around
    * one: with it, q_substr_dedup's wake poisoned the same q_take_*
    * neighbours in both passes (BENCH_r11: 1.33 s / 1.44 s vs 0.30 s /
    * 0.32 s for their identical-plan q_drop_* twins). */
  private[graft] def passOrders(n: Int): Seq[Seq[Int]] = {
    val asc = 0 until n
    Seq(asc, asc.reverse, (1 until n by 2) ++ (0 until n by 2))
  }

  /** Append one finished sample — query name, seconds (-1 when the run
    * failed), epoch start, jobs, stages and the error of a failed run —
    * as a JSON line, flushed at once, so a run cut short still leaves
    * every sample it finished. */
  private[graft] def appendSample(out: java.io.Writer, name: String, s: Sample): Unit = {
    val line = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
      .put("query", name).put("s", s.reported)
      .put("epoch", s.epoch).put("jobs", s.jobs).put("stages", s.stages)
    s.error.foreach(line.put("error", _))
    out.write(line.toString + "\n")
    out.flush()
  }

  /** Print `[bench] <what> failed: <message>` to stderr; returns the message. */
  private def reportFailure(what: String, e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    System.err.println(s"[bench] $what failed: $msg")
    msg
  }

  private val groups = new java.util.concurrent.atomic.AtomicLong()

  /** Build and run `fn` once under a fresh Spark job group, then read
    * that group's job and stage counts from the status tracker. Every
    * job the sample causes carries the group: construction-time eager
    * jobs (DriverFold probes) run on this thread, and broadcast jobs run
    * on threads that capture its local properties. Stages are counted
    * per job as planned, skipped ones included. A failure is printed to
    * stderr and times as infinite. */
  private[graft] def once(spark: SparkSession, sfDir: String, name: String, fn: Query): Sample = {
    val sc = spark.sparkContext
    val group = s"graft-bench-${groups.incrementAndGet()}"
    sc.setJobGroup(group, name)
    val epoch = System.currentTimeMillis() / 1000L
    val t0 = System.nanoTime()
    // toRdd.count() executes the query's OWN physical plan — a
    // df.count() would let Catalyst prune every unused projection and
    // time only the scan for map-shaped queries.
    val (secs, error) = try {
      fn(spark, sfDir).queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, None)
    } catch { case e: Throwable =>
      // a crashed run must NOT count as a timing: min() would prefer a
      // fast transient failure and fabricate a phantom speedup
      (Double.PositiveInfinity, Some(reportFailure(name, e)))
    } finally {
      sc.clearJobGroup()
      graft.llm.Dedup.releaseCaches()
    }
    // the status tracker reads a store the listener bus feeds
    // asynchronously (its doc: "very weak consistency semantics"), so
    // drain the bus before reading the group's jobs
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    val stages = jobs.iterator.flatMap(sc.statusTracker.getJobInfo(_)).map(_.stageIds.length).sum
    Sample(secs, epoch, jobs.length, stages, error)
  }

  /** JIT/codegen warmup: throwaway queries exercising the hot code
    * paths, so the first TIMED query isn't charged for HotSpot + Janino
    * compilation of the shared operators. A failed step is printed and
    * the run goes on. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    def warm(step: String)(body: => Unit): Unit =
      try body catch { case e: Throwable => reportFailure(s"warm-up $step", e) }
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = spark.range(10000).select(col("id"), (col("id") % 97).as("k"),
      (col("id") % 7).cast("double").as("v"))
    // hash agg, join, window, sort
    warm("relational") {
      val agg = w.groupBy("k").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("s"))
      val win = w.withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy("id")))
      agg.join(win, Seq("k")).orderBy(col("n").desc, col("id")).limit(10)
        .queryExecution.toRdd.count()
    }
    // the iterative graph path JIT-compiles over ~3 executions of the
    // real query. Warm it with a synthetic pageRank/components run on
    // throwaway data (measured: q_pagerank best-of-2 1.95 s unwarmed vs
    // ~1.5 s warmed at sf0.1). NOTE: this 100k-row range (~800 KB of
    // leaf stats) sits far below graft.graph.SmallGraph.MaxInputBytes,
    // so it warms the SMALL-regime single-task path (SmallGraph.load,
    // LongIndex loops) — the same regime the sf0.1 bench queries take.
    // The cluster-branch operators (collect_set, per-round shuffle_hash
    // joins) are exercised only by PlanSpec's threshold=0 tests, not
    // timed here, so they need no JIT warmup.
    warm("graph") {
      val gw = spark.range(100000).select(
        (col("id") % 997).as("s"), (col("id") % 61).as("d"))
      graft.graph.Graph.pageRank(gw, col("s"), col("d"), iters = 3)
        .queryExecution.toRdd.count()
      graft.llm.Dedup.nearDupComponents(gw, col("s"), col("d"), iters = 3)
        .queryExecution.toRdd.count()
    }
    // sequence-explode + analytic windows (lead / ignore-nulls last) —
    // the resample family's hot operators
    warm("windows") {
      w.select(col("k"), explode(sequence(lit(0L), col("id") % 5)).as("b"),
          col("v"))
        .withColumn("p", last(when(col("v") > 3, col("v")), ignoreNulls = true)
          .over(Window.partitionBy("k").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nx", lead(col("b"), 1).over(
          Window.partitionBy("k").orderBy("b")))
        .queryExecution.toRdd.count()
    }
    // warm the native expression eval loops (CodegenFallback paths run
    // interpreted; their first few thousand rows pay HotSpot compilation
    // — measured 2.0s cold vs 0.26s warm on the fingerprint query).
    // A bounded sample: no result reuse, no data caching.
    warm("native expressions") {
      val docs = graft.sources.Tables.documents(spark, sfDir).limit(2000)
      docs.select(
        graft.llm.TextAnalysis.tokenSetFingerprint(col("text")),
        graft.llm.TextAnalysis.rollingHash(col("text")),
        graft.llm.TextAnalysis.counts(col("text")),
        graft.functions.GraftFunctions.simhash32(col("text")),
        graft.functions.GraftFunctions.minhashSignature(
          graft.functions.GraftFunctions.shingles(col("text"), 3), 16))
        .queryExecution.toRdd.count()
      val emb = graft.sources.Tables.embeddings(spark, sfDir).limit(2000)
      emb.crossJoin(emb.limit(1).select(col("embedding").as("q")))
        .select(graft.functions.CosineSimilarity(col("embedding"), col("q")))
        .queryExecution.toRdd.count()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Scale.session(sfDir, graft.core.Scale.cores)
    warmUp(spark, sfDir)
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b times just those
    // queries. The driver never sets it; a filtered run must not clobber
    // the round's full BENCH_FULL.json.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // every sample as it finishes (truncated per run, filtered runs
    // too): the tail JSON lines only print once the whole suite is done
    val samplesOut = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get("BENCH_SAMPLES.jsonl"), java.nio.charset.StandardCharsets.UTF_8)
    // Pass hygiene: 128 queries of accumulated cached relations +
    // promoted-heap garbage inflate in-suite timings up to ~2x over
    // isolated runs (r8 judge re-run: q_resample 2.63 s in-suite vs
    // 1.56 s isolated). Clearing the SQL cache and forcing a full GC
    // before each pass resets heap pressure without touching the
    // catalog-registered bucketed tables (whose write-once amortization
    // the later passes demonstrate). In-pass, promoted-heap garbage
    // accumulates faster than pass boundaries can reset it — measured
    // q_jaccard_join at 5.6 s in-suite vs 2.85 s isolated on the same
    // build — so a GC every 16 queries (well under 1% of suite
    // wall-clock) keeps heavy queries from inheriting their
    // predecessors' heap pressure; per-query relations are already
    // released by releaseCaches in `once`.
    val samples = Array.fill(selected.size)(Vector.empty[Sample])
    passOrders(selected.size).foreach { order =>
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
      order.zipWithIndex.foreach { case (q, i) =>
        if (i > 0 && i % 16 == 0) System.gc()
        val (name, fn) = selected(q)
        val s = once(spark, sfDir, name, fn)
        appendSample(samplesOut, name, s)
        samples(q) :+= s
      }
    }
    // -1 = all runs failed
    val results = selected.indices.map(q => selected(q)._1 -> samples(q).minBy(_.secs).reported)
    // Total over SUCCESSFUL queries only: summing the -1 failure sentinels
    // would subtract a second per failure and fabricate a speedup exactly
    // when the suite is most broken. Failures are reported as an explicit
    // count instead (and still visible per-query as -1 entries).
    val nFailed = results.count(_._2 < 0)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    def fmt(v: Double): String = f"$v%.3f"
    // the policy the samples ran under, so BENCH_*.json files from
    // before and after a policy change can be told apart
    val policy = graft.core.Scale.policyJson(spark)
    // n_failed emitted unconditionally (including 0): rounds 1-9 summed
    // -1 sentinels into the total, so consumers need an always-present
    // marker to know which accounting a given BENCH file uses
    def jsonLine(qs: String, omitted: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs""" +
        (if (omitted > 0) s""","queries_omitted":$omitted""" else "") +
        s""","n_failed":$nFailed""" +
        s""","n_queries":${results.size},"sf":"$sfDir","policy":$policy}"""
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullLine = jsonLine(fullQs, 0)
    // BENCH_FULL.json additionally carries every raw sample (pass order)
    // and its epoch start, so a load spike is diagnosable post-hoc: a
    // query whose samples disagree shows WHEN the slow one ran, and
    // co-timed slow samples across queries expose the spike window. The
    // jobs/stages of each query's last-pass sample give its steady-state
    // scheduling shape.
    def perQuery(f: Seq[Sample] => String): String =
      selected.indices.map(q => "\"" + selected(q)._1 + "\":" + f(samples(q)))
        .mkString("{", ",", "}")
    val fullFileLine = fullLine.dropRight(1) +
      s""","samples":${perQuery(_.map(s => fmt(s.reported)).mkString("[", ",", "]"))}""" +
      s""","t_epoch":${perQuery(_.map(_.epoch).mkString("[", ",", "]"))}""" +
      s""","jobs":${perQuery(_.last.jobs.toString)}""" +
      s""","stages":${perQuery(_.last.stages.toString)}}"""
    // The driver captures only the LAST 2000 chars of stdout (BENCH_r03/
    // r04 both came back `parsed: None` — the full 105-query line is
    // ~3.7 KB, so its head was cut and the JSON never parsed). Preserve
    // full fidelity in a file + an early stdout line, and make the FINAL
    // line a compact JSON guaranteed to fit the tail window: total first,
    // then per-query entries slowest-first until the 1800-char budget.
    if (only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (fullFileLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => reportFailure("writing BENCH_FULL.json", e) }
    println(fullLine)
    val byCost = results.sortBy { case (_, v) => -v } // failures (-1) surface too
    val entries = byCost.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val overhead = jsonLine("{}", results.size).length + 16
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = overhead
    entries.foreach { e =>
      if (len + e.length + 1 <= 1800) { kept += e; len += e.length + 1 }
    }
    println(jsonLine(kept.mkString("{", ",", "}"), results.size - kept.size))
    samplesOut.close()
    spark.stop()
  }
}
