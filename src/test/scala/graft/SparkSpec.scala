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
