package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every environment-variable and system-property read in the
  * engine's sources. The engine takes no behaviour switch from the
  * environment: the allowed reads are harness paths and host settings
  * (the bench's data directory and query filter, the core count, the
  * plan-dump directory) and the JVM's temp directory. A new option is
  * a parameter with a test, not an env knob; a read added here must
  * name what it is for. */
class EnvReadSpec extends AnyFunSuite {
  private val Allowed = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_CPUS",
    "GRAFT_PLAN_DIR", "java.io.tmpdir")

  /** A read of the environment or of the system properties: the call,
    * then the key when it is a string literal. */
  private val Read =
    """(sys\.env|System\.getenv|sys\.props|System\.getProperties|System\.getProperty)\s*(?:\.\s*(?:getOrElse|get|apply|contains)\s*)?(?:\(\s*"([^"]*)")?""".r

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("src/main reads only the allowed env vars and system properties, each by literal key") {
    val root = new java.io.File("src/main/scala")
    val files = sources(root)
    assert(files.size > 50, s"no engine sources under ${root.getAbsolutePath}")
    val reads = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
      m <- Read.findAllMatchIn(line)
    } yield (s"${f.getPath}:${i + 1}", Option(m.group(2)))
    val bad = reads.filterNot { case (_, key) => key.exists(Allowed) }
    assert(bad.isEmpty, s"env/property reads outside the allowed set: ${bad.mkString(", ")}")
    assert(reads.flatMap(_._2).toSet == Allowed, s"reads: ${reads.mkString(", ")}")
  }
}
