package graft.core

import org.apache.spark.sql.DataFrame

/** Registry of persisted DataFrames that back lazily returned results
  * (dedup band tables, graph rank vectors). Spark has no "unpersist
  * when the consuming action finishes" hook, so producers register
  * handles here and the harness (Verify/Bench) drains them
  * after each query's action completes. Untracked, these persists
  * would pin executor storage for the session lifetime.
  *
  * Two tiers:
  *  - the GLOBAL queue ([[track]] outside any scope, drained by
  *    [[release]]) keeps the strictly sequential
  *    build→action→release contract the harness uses;
  *  - [[scope]] gives a concurrent harness a PRIVATE registry: every
  *    frame tracked during the body lands in the returned [[Scope]],
  *    and closing that scope releases exactly those handles —
  *    interleaved queries can no longer release each other's caches.
  *    Operators call [[track]] statically, so the redirection is
  *    thread-local: a harness that builds on several threads opens one
  *    scope per thread. Close AFTER the consuming action (the frames
  *    are lazy); [[Scope]] is an `AutoCloseable`, and closing from a
  *    different thread than the one that built the queries is safe.
  */
object Caches {

  /** Handles tracked inside a [[Caches.scope]] body; [[close]] releases
    * exactly these (idempotent). */
  final class Scope private[Caches] () extends AutoCloseable {
    private[Caches] val handles =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def close(): Unit = drain(handles)
  }

  private val global =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val active = new ThreadLocal[Scope]()

  private def drain(
      q: java.util.concurrent.ConcurrentLinkedQueue[DataFrame]): Unit = {
    var df = q.poll()
    while (df != null) { df.unpersist(blocking = false); df = q.poll() }
  }

  /** Persist `df` and register the handle — with the enclosing
    * [[scope]] when one is active on this thread, else globally for the
    * next [[release]]. */
  def track(df: DataFrame): DataFrame = {
    val p = df.persist()
    val s = active.get()
    (if (s != null) s.handles else global).add(p)
    p
  }

  /** Unpersist every GLOBALLY registered handle since the last release.
    * Scoped handles are untouched — their [[Scope]] owns them. */
  def release(): Unit = drain(global)

  /** Run `body` with a private registry and return (result, scope).
    * Close the scope after the consuming action; nesting restores the
    * outer scope on exit. If `body` THROWS, the scope is closed before
    * the exception propagates — the caller never sees the Scope, so
    * anything tracked up to the failure would otherwise be orphaned
    * pinned storage (and it never falls through to the global queue,
    * where a concurrent harness's [[release]] could unpersist it
    * mid-query). */
  def scope[T](body: => T): (T, Scope) = {
    val s = new Scope
    val prev = active.get()
    active.set(s)
    try (body, s)
    catch { case t: Throwable => s.close(); throw t }
    finally active.set(prev)
  }
}
