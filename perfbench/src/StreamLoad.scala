package perfbench

/** The `stream` workload: two streaming queries of one application, fed
  * by one seeded generator — the state query ([[StreamState]]) with its
  * `StateView` lookup client, then the ledger query ([[StreamLedger]]).
  * Both start and warm up first; each is then measured on its own while
  * the other sits idle, so neither's timings carry the other's load.
  *
  * For each query, phase A drains a backlog in large batches, each chunk
  * offered as soon as the previous one is committed (per-row cost).
  * Phase B then offers a fixed rate well below that capacity for
  * `seconds`, on a schedule that never slows down when the engine does
  * (per-trigger fixed cost). */
object StreamLoad {
  /** Phase-B tick: every tick offers the query its rate's share. */
  val TickMs = 250L

  def run(ctx: Main.Ctx): Unit = {
    import ctx._
    val rows = sized(StreamState.WarmupChunks.sum + StreamState.BacklogChunks.sum +
      StreamState.OfferedPerSec * seconds)
    graft.core.Scale.configure(spark, rows.toLong, cores)
    val state = new StreamState.Running(ctx)
    val ledger = new StreamLedger.Running(ctx)
    val both = Seq(state, ledger)
    both.foreach(_.warmup())
    val cpu0 = Clock.cpuNs
    log.write("first_timed", "t_ns" -> Clock.nowNs)

    both.foreach { p =>
      p.backlogSizes.indices.foreach { i =>
        val d0 = Clock.nowNs
        val n = p.backlog(i)
        p.query.processAllAvailable()
        log.write("drain", "stream" -> p.kit.name, "rows" -> n, "start_ns" -> d0,
          "end_ns" -> Clock.nowNs)
      }
      val client = if (p eq state) Some(state.lookups()) else None
      client.foreach(_.start())
      val start = Clock.nowMs
      var k = 0L
      while (k * TickMs < seconds * 1000L) {
        val due = start + k * TickMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait)
        p.tick(due)
        k += 1
      }
      client.foreach(_.join())
      p.query.processAllAvailable()
    }
    log.write("window_end", "t_ns" -> Clock.nowNs, "cpu_ns" -> (Clock.cpuNs - cpu0))
    both.foreach { p => p.query.stop(); spark.streams.removeListener(p.kit.listener) }
    both.foreach(_.check())
  }
}
