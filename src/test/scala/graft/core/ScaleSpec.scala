package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `Scale.configure` owns the session confs the runners tune, the
  * DriverFold probe's starting partition count included; the probe
  * writes none. Each case works on a `newSession()`, so the shared test
  * session's conf is never touched. */
class ScaleSpec extends SparkSpec {
  test("configure sets AQE, partitions, the object-agg threshold and the probe's start") {
    val built = spark.newSession().conf.get("spark.sql.shuffle.partitions")
    for ((maxRows, aqe, parts) <- Seq(
        (1000L, "false", "8"),                     // below the floor
        (600000L, "false", "12"),                  // rows / RowsPerPartition
        (Scale.AqeRowThreshold, "false", "16"),    // capped at cores
        (Scale.AqeRowThreshold + 1, "true", built))) { // AQE: left as built
      val s = spark.newSession()
      Scale.configure(s, maxRows, 16)
      val c = s.conf.getAll
      assert(c("spark.sql.adaptive.enabled") == aqe, s"maxRows=$maxRows")
      assert(c("spark.sql.shuffle.partitions") == parts, s"maxRows=$maxRows")
      assert(c("spark.sql.limit.initialNumPartitions") == parts, s"maxRows=$maxRows")
      assert(c("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    }
  }

  test("maxInputRows counts the events table on a session that never set nanosAsLong") {
    // a fresh path, so no schema cached by an earlier suite's read helps
    val dir = java.nio.file.Files.createTempDirectory("scale-events")
    java.nio.file.Files.copy(java.nio.file.Paths.get(
      getClass.getResource("/events_flavors/nanos/events.parquet").toURI),
      dir.resolve("events.parquet")) // ts is TIMESTAMP(NANOS)
    assert(Scale.maxInputRows(spark.newSession(), dir.toString) == 3L)
  }

  test("DriverFold.collectBounded leaves every session conf as it found it") {
    val configured = spark.newSession()
    Scale.configure(configured, 1000L, 4)
    for (s <- Seq(spark.newSession(), configured)) {
      val g = s.range(100).groupBy((col("id") % 10).as("k")).count()
      val before = s.conf.getAll
      assert(DriverFold.collectBounded(g).map(_.length).contains(10))
      assert(s.conf.getAll == before)
    }
  }
}
