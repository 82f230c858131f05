package graft

/** The bench's reference cross-check (`xchk`) loads per-query Spark
  * times from the committed dual-run file; an empty load silently
  * disables the cross-check, so the loader is pinned against the file
  * itself and against the two ways it can be unusable. The report
  * line's `policy` field is read back from the live session, the
  * filesystem behind `file:` included. */
class BenchSpec extends SparkSpec {
  test("readRefTimes parses every query of the committed BENCH_BOTH.json") {
    val Right((sf, times)) = Bench.readRefTimes("BENCH_BOTH.json")
    assert(sf.nonEmpty)
    assert(times.size == 294, s"parsed ${times.size} reference entries")
    assert(times.values.forall(t => t.isFinite && t >= 0))
  }

  test("readRefTimes reports a missing file apart from a format mismatch") {
    val f = java.nio.file.Files.createTempFile("bench-ref", ".json")
    try {
      java.nio.file.Files.write(f, """{"sf":"x","total":1.0}""".getBytes("UTF-8"))
      assert(Bench.readRefTimes(f.toString) == Left(s"format_mismatch:$f"))
      java.nio.file.Files.write(f, "not json".getBytes("UTF-8"))
      assert(Bench.readRefTimes(f.toString) == Left(s"format_mismatch:$f"))
    } finally java.nio.file.Files.delete(f)
    assert(Bench.readRefTimes(f.toString) == Left("missing"))
  }

  test("appendSample writes one Jackson-readable line per sample; a failure reads -1") {
    val out = new java.io.StringWriter()
    Bench.appendSample(out, "q1_agg", 0.25, 1700000000L)
    Bench.appendSample(out, "q_broken", Double.PositiveInfinity, 1700000001L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = out.toString.split("\n").toSeq.map(mapper.readTree)
    assert(lines.map(l => (l.get("query").asText, l.get("s").asDouble, l.get("epoch").asLong)) ==
      Seq(("q1_agg", 0.25, 1700000000L), ("q_broken", -1.0, 1700000001L)))
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
