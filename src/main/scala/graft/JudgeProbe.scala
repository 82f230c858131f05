package graft

object JudgeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Scale.session(sfDir, graft.core.Scale.cores)
    // job/stage accounting per probe: fixed per-job scheduling overhead
    // (~0.2-0.5 s against sub-MB inputs) dominates multi-action queries
    // at bench scale, so the job count is the first thing to audit
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
      }
    })
    val names = args.toSeq
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => println(s"ERR $n: $e"); Double.PositiveInfinity }
        finally graft.llm.Dedup.releaseCaches()
      }
      val a = once()
      Thread.sleep(300) // let queued listener events drain
      jobs.set(0); stages.set(0)
      val b = once()
      Thread.sleep(300) // let queued listener events drain
      println(f"PROBE $n%-24s best=${math.min(a,b)}%.3f  runs=[$a%.3f, $b%.3f]  jobs=${jobs.get}  stages=${stages.get}")
      // GRAFT_PROBE_PLAN=1: dump the executed plan after the timed runs
      // (post-AQE, post-reuse — the plan the timings actually paid for)
      if (sys.env.get("GRAFT_PROBE_PLAN").contains("1"))
        println(fn(spark, sfDir).queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
