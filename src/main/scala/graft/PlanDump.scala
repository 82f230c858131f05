package graft

/** Dev tool (not shipped surface): writes `.explain("formatted")` output
  * for the named queries to plans/<tag>/<name>_<suffix>.txt — the plan
  * evidence files the optimization rounds commit alongside before/after
  * bench numbers, under the same [[graft.core.Scale.session]] policy
  * the bench times, rendered by [[render]] so two dumps of one build
  * are byte-identical. Usage:
  *   java ... graft.PlanDump <suffix> <query> [<query> ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      GRAFT_PLAN_DIR (default plans/r16).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r16")
    val suffix = args.head
    val names = args.tail.toSeq
    val spark = graft.core.Scale.session(sfDir, graft.core.Scale.cores)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = render(df)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"PLANDUMP wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
      graft.llm.Dedup.releaseCaches()
    }
    spark.stop()
  }

  /** `df`'s formatted explain with what varies from build to build of
    * one plan masked: a JVM lambda's class name and identity hash
    * (`Inference$$$Lambda$4217/0x00007f27751d53c8@1fc51af7` →
    * `Inference$$$Lambda`), expression ids (`#123` → `#n`) and the
    * counter suffix of a lambda variable (`lambda x_4` → `lambda x_n`). */
  def render(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      .replaceAll("""\$\$Lambda[^@\s]*@[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("""(lambda \w+?)_\d+#""", "$1_n#")
      .replaceAll("""#\d+""", "#n")
}
