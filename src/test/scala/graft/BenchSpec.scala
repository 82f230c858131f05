package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The bench's fixed sample plan is a pure function, pinned here:
  * three permutations with no repeated successor pair. Its per-sample
  * job and stage counts come from the status tracker under a job group,
  * checked against a listener's count on the shapes that run jobs off
  * the query's own action: a broadcast (another thread) and a
  * construction-time DriverFold probe. The report line's `policy` field
  * is read back from the live session, the filesystem behind `file:`
  * included. */
class BenchSpec extends SparkSpec {
  test("passOrders: three permutations; no ordered adjacent pair repeats across passes") {
    (1 to 300).foreach { n =>
      val orders = Bench.passOrders(n)
      assert(orders.size == 3)
      orders.foreach(o => assert(o.sorted == (0 until n), s"n=$n: $o"))
      if (n >= 4) {
        val pairs = orders.flatMap(o => o.zip(o.tail))
        assert(pairs.distinct.size == pairs.size, s"n=$n repeats a successor pair")
      }
    }
  }

  test("once counts the sample's jobs and stages as a listener does, off-thread and eager ones too") {
    // (label, jobs at least, query): the broadcast job runs on another
    // thread; lorenz runs its DriverFold probe while the frame is built,
    // before the timed action over the folded rows
    val cases: Seq[(String, Int, Bench.Query)] = Seq(
      ("aggregate", 1, (sp, _) => sp.range(5000).groupBy(col("id") % 7).count()),
      ("broadcast join", 2, (sp, _) => sp.range(5000).withColumn("k", col("id") % 10)
        .join(broadcast(sp.range(10).withColumnRenamed("id", "k")), "k")),
      ("driver fold", 2, (sp, _) => graft.agg.RobustStats.lorenz(
        sp.range(300).select((col("id") % 17).as("x")), col("x"))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try cases.foreach { case (label, minJobs, fn) =>
      jobs.set(0); stages.set(0)
      val sample = Bench.once(spark, "", label, fn)
      assert(sample.error.isEmpty && sample.secs.isFinite, label)
      assert(sample.jobs >= minJobs, s"$label: ${sample.jobs} jobs")
      assert((sample.jobs, sample.stages) == ((jobs.get, stages.get)), label)
    } finally spark.sparkContext.removeSparkListener(listener)
    val failed = Bench.once(spark, "", "broken", (_, _) => throw new IllegalStateException("boom"))
    assert(failed.secs.isInfinity && failed.error.contains("boom") && failed.jobs == 0)
  }

  test("appendSample writes one Jackson-readable line per sample; a failure reads -1") {
    val out = new java.io.StringWriter()
    Bench.appendSample(out, "q1_agg", Bench.Sample(0.25, 1700000000L, 2, 3, None))
    Bench.appendSample(out, "q_broken",
      Bench.Sample(Double.PositiveInfinity, 1700000001L, 1, 1, Some("boom")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = out.toString.split("\n").toSeq.map(mapper.readTree)
    assert(lines.map(l => (l.get("query").asText, l.get("s").asDouble, l.get("epoch").asLong)) ==
      Seq(("q1_agg", 0.25, 1700000000L), ("q_broken", -1.0, 1700000001L)))
    assert(lines.map(l => (l.get("jobs").asInt, l.get("stages").asInt)) == Seq((2, 3), (1, 1)))
    assert(!lines(0).has("error") && lines(1).get("error").asText == "boom")
  }

  test("policy field reads cores, AQE and shuffle partitions back from the live session") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def policy(maxRows: Long) = {
      val s = spark.newSession()
      graft.core.Scale.configure(s, maxRows, 4)
      val p = mapper.readTree(graft.core.Scale.policyJson(s))
      (p.get("cores").asInt, p.get("aqe").asBoolean, p.get("shuffle_partitions").asInt)
    }
    assert(policy(64000L) == ((4, false, 2)))
    assert(policy(graft.core.Scale.AqeRowThreshold + 1) == ((4, true, 4))) // AQE: as built
  }

  test("policy field names the class behind file: in the live session's Hadoop conf") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val s = spark.newSession()
    graft.core.Scale.configure(s, 64000L, 4)
    assert(mapper.readTree(graft.core.Scale.policyJson(s)).get("local_fs").asText ==
      classOf[graft.core.ForkFreeLocalFileSystem].getName)
  }
}
