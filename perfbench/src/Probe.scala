package perfbench

import java.io.{File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._

/** Append-only JSONL sample log. Every record is flushed as soon as it is
  * written, so a run that is killed part-way keeps every finished sample. */
final class SampleLog(path: File) {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val out: Writer =
    new OutputStreamWriter(new FileOutputStream(path, true), StandardCharsets.UTF_8)

  def write(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write(mapper.writeValueAsString((("kind" -> kind) +: fields).toMap))
    out.write('\n')
    out.flush()
  }

  def writeJson(file: File, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, value)

  def close(): Unit = out.close()
}

/** Spark scheduler counters, attributed to the operation that ran them.
  *
  * The benchmark tags each of its calls with the local property
  * [[Layers.TagKey]] (for example `q_map#construct`); a job inherits the
  * tag of the thread that submitted it, and every stage and task of the
  * job is counted under that tag. Jobs submitted by the streaming
  * engine's own thread carry no tag and land under `stream`. */
final class Layers extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  private val events = new AtomicLong()

  private def add(tag: String, name: String, v: Long): Unit =
    counters.computeIfAbsent(tag, _ => new ConcurrentHashMap[String, AtomicLong]())
      .computeIfAbsent(name, _ => new AtomicLong()).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Layers.TagKey)))
      .getOrElse("stream")
    e.stageIds.foreach(stageTag.put(_, tag))
    add(tag, "jobs", 1)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val tag = stageTag.getOrDefault(e.stageInfo.stageId, "stream")
    add(tag, "stages", 1)
    if (e.stageInfo.numTasks == 1) add(tag, "single_task_stages", 1)
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, "stream")
    add(tag, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(tag, "cpu_ns", m.executorCpuTime)
      add(tag, "run_ms", m.executorRunTime)
      add(tag, "gc_ms", m.jvmGCTime)
      add(tag, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(tag, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(tag, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add(tag, "spill_disk_bytes", m.diskBytesSpilled)
      add(tag, "result_bytes", m.resultSize)
      add(tag, "scan_bytes", m.inputMetrics.bytesRead)
      add(tag, "scan_rows", m.inputMetrics.recordsRead)
      add(tag, "task_overhead_ms", math.max(0L, e.taskInfo.duration -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
    }
    events.incrementAndGet()
  }

  /** Wait until the asynchronous listener bus has delivered every event:
    * the event count must hold still for 300 ms (at most 10 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  /** tag -> counter -> value. */
  def snapshot(): Map[String, Map[String, Long]] =
    counters.asScala.map { case (t, m) =>
      t -> m.asScala.map { case (k, v) => k -> v.get() }.toMap }.toMap
}

object Layers {
  val TagKey = "perfbench.tag"
}

/** Counts Spark's "No Partition Defined for Window operation" warnings,
  * the log line of every unpartitioned window funnel. */
final class WarnCounter extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-warn", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val windowNoPartition = new AtomicLong()
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("No Partition Defined"))
      windowNoPartition.incrementAndGet()
}

object WarnCounter {
  def install(): WarnCounter = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    val w = new WarnCounter
    w.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(w, Level.WARN, null)
    ctx.updateLoggers()
    w
  }
}

/** Wall clock in epoch nanoseconds with the resolution of `nanoTime`, and
  * this process's CPU time. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nowNs: Long = base + System.nanoTime()
  def nowMs: Long = nowNs / 1000000L
  /** CPU time of every thread of this JVM so far, in nanoseconds. Time the
    * host steals from a virtual machine is not in it. */
  def cpuNs: Long = os.getProcessCpuTime
}
