package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, local[4]
  * with 4 shuffle partitions — these are semantics tests, not perf tests).
  * Every test drains the tracked-persist registry afterwards, so
  * library calls that persist (band tables, posting lists, pageRank
  * working sets) can't leak cached frames across tests or couple one
  * suite's storage to another's release call. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // session shared across suites
  override def afterEach(): Unit = graft.core.Caches.release()

  /** Run `body` under one expression-evaluation path: `NO_CODEGEN`
    * (interpreted, whole-stage codegen off) or `CODEGEN_ONLY`; the
    * session's settings are restored afterwards. */
  def withFactoryMode[T](mode: String)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), (mode != "NO_CODEGEN").toString)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the runners' static policy at 4 cores; no Scale.configure, so AQE
    // keeps Spark's default (on) — the posture PlanSpec asserts under
    val s = graft.core.Scale.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
