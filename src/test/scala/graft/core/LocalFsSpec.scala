package graft.core

import java.net.URI
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.Streaming
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The fork-free `file:` filesystem: no Hadoop `Shell` process on the
  * streaming commit path, the same modes and link statuses as the stock
  * `RawLocalFileSystem`, installed by both halves of the session policy,
  * and a checkpoint written by the stock filesystem restores under it. */
class LocalFsSpec extends SparkSpec {
  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
  private def tmp(p: String) = Files.createTempDirectory(p)
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Run `body` with Hadoop's own local filesystems behind `file:`, as a
    * session not built by `Scale.builder` has them; reinstall after. */
  private def withStockLocalFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    LocalFs.evictStale(conf)
    try body finally LocalFs.install(conf)
  }

  /** Dedup within a 10-minute watermark, then a 5-minute count per key. */
  private def counts(ms: MemoryStream[(Timestamp, String, String)]): DataFrame =
    Streaming.tumblingChained(
      Streaming.distinctWithinWatermark(ms.toDF().toDF("ts", "id", "k"), "ts", "10 minutes",
        Seq("id")),
      "ts", "5 minutes", Seq(col("k")), Seq(count(lit(1)).as("n")))

  test("a checkpointed stateful stream and a parquet ledger start no Hadoop Shell process") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val events = MemoryStream[(Timestamp, String, String)]
      val state = counts(events).writeStream.format("parquet")
        .option("checkpointLocation", tmp("lfs_state_ckpt").toString)
        .option("path", tmp("lfs_state_out").toString).outputMode("append").start()
      val ledgerDir = tmp("lfs_ledger")
      var ledger = Seq.empty[(Long, Long)].toDF("h", "n_docs")
      val docs = MemoryStream[(Long, String)]
      val ledgerQ = docs.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", tmp("lfs_ledger_ckpt").toString)
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          val out = ledgerDir.resolve(s"v$bid").toString
          Streaming.mergeLineLedgerIdempotent(ledger, batch, col("doc_id"), col("text"), bid)
            .write.parquet(out)
          ledger = spark.read.parquet(out)
          ()
        }.start()
      Seq(Seq((ts(1), "e1", "a"), (ts(3), "e1", "a")), Seq((ts(12), "e2", "b"))).foreach { b =>
        events.addData(b); state.processAllAvailable()
      }
      Seq(Seq((1L, "home\nabout")), Seq((2L, "home\nnews"))).foreach { b =>
        docs.addData(b); ledgerQ.processAllAvailable()
      }
      state.stop(); ledgerQ.stop()
      assert(state.recentProgress.count(_.numInputRows > 0) == 2)
      assert(ledger.filter(col("h").isNotNull).count() == 3)
    } finally rec.stop()
    val file = Files.createTempFile("lfs_forks", ".jfr")
    rec.dump(file); rec.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    val shell = forks.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.size == 0,
      s"${shell.size} of ${forks.size} forks from Hadoop's Shell, e.g. " +
        shell.take(3).map(_.getString("command")).mkString("; "))
  }

  test("create, mkdirs and setPermission leave the modes the stock filesystem leaves") {
    val (stock, ours) = (raw(new RawLocalFileSystem), raw(new ForkFreeRawLocalFileSystem))
    val dir = tmp("lfs_modes")
    for (m <- Seq("600", "644", "700", "755"); (fs, tag) <- Seq(stock -> "stock", ours -> "ours")) {
      val perm = new FsPermission(m)
      fs.create(new Path(dir.toString, s"$tag-file-$m"), perm, true, 4096, 1.toShort,
        1L << 20, null).close()
      assert(fs.mkdirs(new Path(dir.toString, s"$tag-dir-$m"), perm))
      val touched = Files.createFile(dir.resolve(s"$tag-set-$m"))
      fs.setPermission(new Path(touched.toString), perm)
    }
    for (m <- Seq("600", "644", "700", "755"); kind <- Seq("file", "dir", "set")) {
      val want = Integer.parseInt(m, 8)
      assert(mode(dir.resolve(s"stock-$kind-$m")) == want, s"stock $kind $m")
      assert(mode(dir.resolve(s"ours-$kind-$m")) == want, s"ours $kind $m")
    }
    // nio cannot set a sticky bit: such a mode goes to the stock chmod
    for ((fs, tag) <- Seq(stock -> "stock", ours -> "ours")) {
      val d = Files.createDirectory(dir.resolve(s"$tag-sticky"))
      fs.setPermission(new Path(d.toString), new FsPermission("1777"))
      assert(mode(d) == Integer.parseInt("1777", 8), tag)
    }
  }

  test("getFileLinkStatus matches the stock filesystem on files, dirs, missing paths and links") {
    val (stock, ours) = (raw(new RawLocalFileSystem), raw(new ForkFreeRawLocalFileSystem))
    val dir = tmp("lfs_links")
    val file = Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val missing = dir.resolve("missing")
    // FileContext hands over qualified `file:/…` paths; FileSystem callers plain ones
    for (p <- Seq(file, sub, link); qualified <- Seq(true, false)) {
      val path = if (qualified) new Path(p.toUri) else new Path(p.toString)
      assert(ours.getFileLinkStatus(path).toString == stock.getFileLinkStatus(path).toString,
        s"$path")
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink) // went to super
    assert(!ours.getFileLinkStatus(new Path(link.toUri)).isSymlink)   // as readlink sees it
    for (path <- Seq(new Path(missing.toUri), new Path(missing.toString))) {
      val a = intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(path))
      val b = intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(path))
      assert(a.getMessage == b.getMessage)
    }
  }

  test("file: resolves to the fork-free filesystem after Scale.builder and after Scale.configure") {
    val name = classOf[ForkFreeLocalFileSystem].getName
    assert(LocalFs.className(spark.sessionState.newHadoopConf()) == name) // built by Scale.builder
    withStockLocalFs {
      val s = spark.newSession()
      assert(LocalFs.className(s.sessionState.newHadoopConf()) ==
        classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      Scale.configure(s, 1000L, 4) // a session not built by `builder` gets it here
      assert(LocalFs.className(s.sessionState.newHadoopConf()) == name)
      assert(FileSystem.get(URI.create("file:///"), s.sessionState.newHadoopConf())
        .isInstanceOf[ForkFreeLocalFileSystem])
      assert(org.apache.hadoop.fs.FileContext.getFileContext(URI.create("file:///"),
        s.sessionState.newHadoopConf()).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
      Scale.configure(s, 1000L, 4) // idempotent
      assert(LocalFs.className(s.sessionState.newHadoopConf()) == name)
    }
  }

  test("a checkpoint written under the stock filesystem restores under the fork-free one") {
    import spark.implicits._
    val s = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batches = Seq(
      Seq((ts(1), "e1", "a"), (ts(2), "e2", "a"), (ts(3), "e3", "b"), (ts(3), "e1", "a")),
      Seq((ts(6), "e4", "a"), (ts(7), "e2", "a"), (ts(12), "e5", "b")),
      // e3 repeats across the restart: only the restored dedup state drops it
      Seq((ts(14), "e3", "b"), (ts(16), "e6", "a"), (ts(40), "e7", "b")))
    def start(ms: MemoryStream[(Timestamp, String, String)], ckpt: String, out: String) =
      counts(ms).writeStream.format("parquet").option("checkpointLocation", ckpt)
        .option("path", out).outputMode("append").start()
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
             ms: MemoryStream[(Timestamp, String, String)], bs: Seq[Seq[(Timestamp, String, String)]]) =
      bs.foreach { b => ms.addData(b); q.processAllAvailable() }
    def sink(out: String) = s.read.parquet(out)
      .select(col("window_start").cast("string"), col("k"), col("n"))
      .as[(String, String, Long)].collect().toSet

    val (ckpt, out) = (tmp("lfs_restart_ckpt").toString, tmp("lfs_restart_out").toString)
    val ms = MemoryStream[(Timestamp, String, String)]
    withStockLocalFs {
      val first = start(ms, ckpt, out)
      feed(first, ms, batches.take(2)); first.stop()
    }
    assert(LocalFs.className(s.sessionState.newHadoopConf()) == classOf[ForkFreeLocalFileSystem].getName)
    val restored = start(ms, ckpt, out)
    feed(restored, ms, batches.drop(2)); restored.stop()
    assert(restored.recentProgress.map(_.batchId).min >= 2, "resumed after the stock run's batches")

    val (ckpt2, out2) = (tmp("lfs_straight_ckpt").toString, tmp("lfs_straight_out").toString)
    val ms2 = MemoryStream[(Timestamp, String, String)]
    val straight = start(ms2, ckpt2, out2)
    feed(straight, ms2, batches); straight.stop()
    val expected = Set(("2024-01-01 00:00:00", "a", 2L), ("2024-01-01 00:00:00", "b", 1L),
      ("2024-01-01 00:05:00", "a", 1L), ("2024-01-01 00:10:00", "b", 1L),
      ("2024-01-01 00:15:00", "a", 1L))
    assert(sink(out2) == expected)
    assert(sink(out) == sink(out2))
  }
}
