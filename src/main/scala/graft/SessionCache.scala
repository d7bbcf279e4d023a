package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memoization for expensive derived state (fitted
  * models, pinned cluster-label frames): a pipeline that runs several
  * registered queries in one session must pay each model fit / graph
  * contraction once, not once per query. Keys embed the data directory,
  * so a fresh session or another scale factor recomputes.
  *
  * Hygiene contract (the two leaks a naive static map has):
  *  - entries are evicted when the owning SparkContext stops (a
  *    SparkListener per context), so cycled sessions — test suites,
  *    long-lived JVMs hosting many sessions — don't strongly retain
  *    stopped sessions or their cached frames;
  *  - values are computed OUTSIDE the map's bin locks (computeIfAbsent
  *    only installs a memo cell; the computation runs under that cell's
  *    own lock), so one slow model fit can't block unrelated keys.
  *
  * A memo that is a frame is pinned through [[pin]]: the one owner of
  * every frame that lives as long as the session. A pin is
  * materialized before its memo returns, so every consumer plans over
  * the same in-memory leaf whichever query ran first, and
  * [[evictSession]] releases it.
  *
  * Data under a directory is assumed immutable for the session's
  * lifetime (true for the immutable parquet snapshots this engine
  * reads); a mutable-source deployment would key by snapshot version.
  *
  * Known retention bound: eviction is keyed to SparkContext STOP, so a
  * long-lived context cycling many `newSession()` clones retains each
  * clone's entries until the whole context stops — acceptable for the
  * one-session-per-run drivers this engine serves (and every test
  * suite stops its context). A multi-session-JVM deployment would add
  * per-session eviction (weak session keys or a session-end listener)
  * before relying on session churn to free fitted models.
  */
object SessionCache {

  /** Memo cell: `value` is a Scala lazy val, so the computation runs
    * under the cell's monitor (per-key), not the map's bin lock.
    */
  private final class Cell(f: () => AnyRef) { lazy val value: AnyRef = f() }

  private val cache = new ConcurrentHashMap[(SparkSession, String), Cell]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()
  private val pins = new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()

  def getOrCompute[T <: AnyRef](s: SparkSession, key: String)(f: => T): T = {
    val sc = s.sparkContext
    // a stopped context gets no memoization: inserting after the
    // eviction sweep would strongly retain the dead session forever, and
    // addSparkListener on a stopped bus throws
    if (sc.isStopped) return f
    if (hooked.add(sc)) {
      try sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          // the context's executors are gone, so cached frames need no
          // unpersist — dropping the references is the whole cleanup
          hooked.remove(sc)
          val it = cache.keySet().iterator()
          while (it.hasNext) if (it.next()._1.sparkContext eq sc) it.remove()
          pins.keySet().removeIf(_.sparkContext eq sc)
        }
      }) catch {
        case _: IllegalStateException => // stopped between check and hook
          hooked.remove(sc)
          return f
      }
    }
    val v = cache.computeIfAbsent((s, key), _ => new Cell(() => f)).value
    // best-effort close of the remaining race: an insert that slipped in
    // while the context was stopping is swept here instead of leaking
    if (sc.isStopped) cache.remove((s, key))
    v.asInstanceOf[T]
  }

  /** Pin a frame for the life of its session: persist it, materialize
    * it, and record it so [[evictSession]] unpersists it. Call it inside
    * a [[getOrCompute]] computation, on the frame the memo returns.
    */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist()
    pins.computeIfAbsent(df.sparkSession, _ => new ConcurrentLinkedQueue[DataFrame]()).add(p)
    p.count()
    p
  }

  /** Drop every entry owned by `s` and unpersist its [[pin]]s (bench
    * cold-reset: a single-shot re-measure must pay the fit again, not
    * read the memo).
    */
  private[graft] def evictSession(s: SparkSession): Int = {
    var n = 0
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq s) { it.remove(); n += 1 }
    Option(pins.remove(s)).foreach(_.forEach(_.unpersist(blocking = false)))
    n
  }

  /** Entries owned by a context — SessionCacheSpec asserts eviction. */
  private[graft] def entriesFor(sc: SparkContext): Int = {
    var n = 0
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext eq sc) n += 1
    n
  }
}
