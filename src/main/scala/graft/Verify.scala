package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // --sql-only <out.json>: dump oracle_sql.json without a Spark session
    // (tools/bench_both.sh feeds it to duckdb_baseline.py — running every
    // query just to get the SQL would double the ritual's wall-clock)
    if (args.length == 2 && args(0) == "--sql-only") {
      Files.writeString(Paths.get(args(1)), oracleJson)
      return
    }
    // optional 3rd arg: only run queries whose name starts with any of
    // the comma-separated prefixes (local iteration aid; the driver
    // always passes 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val prefixes =
      (if (args.length > 2) args(2) else "").split(",").toSeq
    val spark = graft.core.Scale.session(sfDir, graft.core.Scale.cores)
    new java.io.File(outDir).mkdirs()
    // Record every throwing query by name → error so missing coverage can
    // never masquerade as a pass: a query that crashes leaves no parquet
    // dir, and a correctness report built only from the dirs that exist
    // would read green while a third of the suite is broken (round 9: 41
    // events-table queries vanished from CORRECTNESS_r09 this way).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected =
      SparkEntry.queries.filter(q => prefixes.exists(q._1.startsWith))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // a mid-write crash leaves a partial dir (often only
        // _temporary); a comparator that keys on dir existence would
        // read it as output, and an empty parquet glob aborts the
        // whole DuckDB compare — clean it, then write an explicit
        // one-row `err` sentinel parquet in its place. The driver's
        // correctness report is built from the dirs that exist, so a
        // crashed query now surfaces as a loud schema/hash-mismatch
        // row under its own name instead of silently vanishing
        // (round 9: 41 crashed queries were absent and read as green).
        try {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(new java.io.File(s"$outDir/$name"))
          import spark.implicits._
          Seq(msg.take(500)).toDF("err").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      finally graft.llm.Dedup.releaseCaches()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
        .mkString("{", ",", "}"))
    // Coverage self-check on stdout: entry count must equal query count.
    println(s"[verify] ${selected.size - errors.size}/${selected.size} " +
      s"queries succeeded; policy=${graft.core.Scale.policyJson(spark)}" +
      (if (errors.nonEmpty) s"; FAILED: ${errors.keys.mkString(", ")}" else ""))
    // Deliberately exit 0 even on per-query failures: the driver compares
    // whatever parquet dirs exist, and a nonzero exit could discard the
    // queries that DID succeed. errors.json + the stdout summary are the
    // loud, machine-readable failure signal.
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
