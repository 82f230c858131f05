package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and appends every sample
  * to `<out>/samples.jsonl`; `run.py` turns the samples into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <corpora> <out dir> <scale> <cores>
  *
  * `corpora` names the batch workload's input directories as
  * `light=<dir>,heavy=<dir>`; the streaming workload makes its own input.
  *
  * `scale` multiplies the streaming workload's chunk sizes and rates; the
  * benchmark runs at 1, its self-test at a small fraction.
  */
object Main {
  /** Everything one workload needs from the harness. */
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                       corpora: Map[String, String], outDir: File, log: SampleLog,
                       layers: Option[Layers], warns: Option[WarnCounter], cores: Int,
                       scale: Double) {
    /** `n` rows at this run's scale. */
    def sized(n: Int): Int = math.max(1, math.round(n * scale).toInt)

    /** Run `body` with every Spark job it submits tagged `tag`. */
    def tagged[T](tag: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Layers.TagKey)
      sc.setLocalProperty(Layers.TagKey, tag)
      try body finally sc.setLocalProperty(Layers.TagKey, prev)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, corporaS, outDirS, scaleS, coresS) = args
    val corpora = corporaS.split(",").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }.toMap
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val outDir = new File(outDirS)
    outDir.mkdirs()
    val log = new SampleLog(new File(outDir, "samples.jsonl"))
    val cores = coresS.toInt
    val trace = traceS == "1"
    val spark = session(cores, outDir)
    log.write("env", "t_ns" -> Clock.nowNs, "workload" -> workload, "seed" -> seedS.toLong, "cores" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(), "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"), "trace" -> trace)
    val layers = if (trace) Some(new Layers) else None
    layers.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, seedS.toLong, secondsS.toInt, trace, corpora, outDir, log,
      layers, if (trace) Some(WarnCounter.install()) else None, cores, scaleS.toDouble)
    try {
      workload match {
        case "batch" => BatchLoad.run(ctx)
        case "stream" => StreamLoad.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.layers.foreach { l =>
        l.settle()
        log.write("layers", "by_tag" -> l.snapshot())
      }
      ctx.warns.foreach(w => log.write("warns", "window_no_partition" -> w.windowNoPartition.get()))
      log.write("end", "rss_peak_kb" -> vmHwmKb())
    } finally {
      spark.stop()
      log.close()
    }
  }

  /** The one session policy every workload runs under: `cores` task slots,
    * `graft.core.Scale` partitioning (applied per workload once its input
    * size is known) and a codegen cache large enough to hold every
    * generated class of a pass, as `graft.Bench` sets it. */
  def session(cores: Int, outDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(outDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(outDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set size of this JVM (VmHWM), in KiB. */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}
