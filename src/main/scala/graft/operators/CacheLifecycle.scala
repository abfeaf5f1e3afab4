package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Explicit release for operator-internal persists.
  *
  * Several operators persist an intermediate so the ONE materialization
  * of their (lazy) result shares it across multiple readers —
  * [[Similarity.semanticDedup]]'s assignment, [[Dedup.minhashNearDups]]'
  * shingle-id sets. Left alone, each invocation pins storage memory
  * until LRU pressure evicts it: a long-lived server session
  * accumulates one cached plan per request. (Where the readers are
  * jobs over ONE RDD, Spark already shares the shuffle and no persist
  * is needed — [[Raster]]'s line pass.) DESIGN_CENSUS.md lists every
  * persist that is left and how it is released.
  * [[unpersistAfterFirstUse]] registers a ONE-SHOT
  * [[QueryExecutionListener]] that unpersists the intermediate as soon
  * as the first completed query CONTAINS the result's plan (consumers
  * may wrap it in further operators). A caller that materializes twice
  * recomputes the second time — correct, lazy, and cheaper than a leak.
  * The listener bus is async: release trails the action by a beat
  * (tests poll `getPersistentRDDs`), which is fine — the contract is
  * "freed after use", not "freed synchronously".
  *
  * Results that are NEVER materialized cannot be allowed to accumulate
  * either: each outstanding listener retains its captured plan tree and
  * pays a `sameResult` plan walk on EVERY completed query in the
  * session. Outstanding listeners are therefore BOUNDED — per session
  * ([[MaxOutstanding]]) and process-wide ([[MaxOutstandingGlobal]],
  * which also bounds retention across DEAD sessions: a release closure
  * captures its cached Dataset — necessarily strongly, see
  * [[unpersistAfterFirstUse]] — which references its session, so
  * without the global cap a process churning through short-lived
  * sessions with unmaterialized results would retain them all).
  * Registering past a cap force-releases the oldest — early release is
  * always safe (the cache merely recomputes if that result is
  * materialized later). The listener itself holds its session WEAKLY:
  * once a session's listeners have all fired, nothing here keeps the
  * session (or its queue entry) from collecting. */
private[graft] object CacheLifecycle {

  private[operators] val MaxOutstanding = 64
  private[operators] val MaxOutstandingGlobal = 256

  /** Outstanding one-shot listeners per session, oldest first. Weak
    * keys so a dead session's (empty) queue collects with it; values
    * must not strongly reference the key, so queue entries hold the
    * session weakly and empty queues are pruned eagerly. All access
    * under the map's own monitor. */
  private val outstanding =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayDeque[OneShot]]()

  /** Process-wide FIFO of the same listeners (insertion order). */
  private val global = new java.util.ArrayDeque[OneShot]()

  private final class OneShot(spark: SparkSession, target: LogicalPlan,
      release: () => Unit) extends QueryExecutionListener {
    // weak: a strong session field would make the registry's VALUES
    // reference their WeakHashMap KEY, pinning dead sessions forever
    private val sparkRef =
      new java.lang.ref.WeakReference[SparkSession](spark)
    private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    private[CacheLifecycle] def isFired: Boolean = fired.get()

    /** Release + unregister, exactly once (natural fire and cap-evict
      * force-fire can race; the CAS arbitrates). */
    private[CacheLifecycle] def fire(): Unit =
      if (fired.compareAndSet(false, true)) {
        try release() catch { case scala.util.control.NonFatal(_) => }
        val s = sparkRef.get()
        if (s != null) {
          s.listenerManager.unregister(this)
          forget(s, this)
        }
        outstanding.synchronized { global.remove(this); () }
      }

    private def maybeRelease(qe: QueryExecution): Unit =
      try { if (qe.analyzed.exists(_.sameResult(target))) fire() }
      catch { case scala.util.control.NonFatal(_) => }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = maybeRelease(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = maybeRelease(qe)
  }

  private def forget(spark: SparkSession, l: OneShot): Unit =
    outstanding.synchronized {
      val q = outstanding.get(spark)
      if (q != null) {
        q.remove(l)
        if (q.isEmpty) outstanding.remove(spark) // value must not linger
        ()
      }
    }

  // `cached` is captured STRONGLY, deliberately. A WeakReference (with
  // a no-op release when collected) was tried and REVERTED: operators
  // like mineHardNegatives hold their internal cached frame ONLY
  // through this closure, so any GC between operator return and the
  // async listener fire cleared the ref and turned the release into a
  // no-op — the cache entry stayed pinned (caught by CurationSpec's
  // release assertions). The cost of the strong capture is that a DEAD
  // session with unmaterialized results stays reachable through its
  // outstanding closures until the global cap cycles them out — a
  // BOUNDED retention (≤ MaxOutstandingGlobal closures process-wide,
  // see the class scaladoc), which the cap exists to bound; per-session
  // weak collection therefore engages only once all of a session's
  // listeners have fired or been cap-evicted.
  def unpersistAfterFirstUse(result: DataFrame, cached: Dataset[_]): Unit =
    releaseAfterFirstUse(result)(() => cached.unpersist(blocking = false))

  /** Estimated input bytes past which a text-bearing cache goes
    * DISK_ONLY (see [[textStorageLevel]]). */
  val TextMemMaxBytes: Long = 4L << 30

  /** The ONE storage-level decision for text-bearing caches: a
    * deserialized in-memory copy of corpus text competes with execution
    * memory at scale, so when `sizedBy`'s input-size estimate exceeds
    * [[TextMemMaxBytes]] the cache goes DISK_ONLY — still one compute
    * pass instead of N, read back off sequential local disk. Small
    * (bench-scale) inputs keep MEMORY_AND_DISK and their plans/timings.
    * `sizedBy` is the frame whose size decides (the cached frame itself,
    * or the corpus it is derived from). */
  def textStorageLevel(sizedBy: DataFrame): StorageLevel =
    if (sizedBy.queryExecution.optimizedPlan.stats.sizeInBytes <=
        TextMemMaxBytes) StorageLevel.MEMORY_AND_DISK
    else StorageLevel.DISK_ONLY

  /** The general form: run `release` once, after the first completed
    * query containing `result`'s plan — for resources that are not a
    * single Dataset's persist (e.g. a PeriodCache holding one
    * persisted frame per closed day). */
  def releaseAfterFirstUse(result: DataFrame)(release: () => Unit): Unit = {
    val spark = result.sparkSession
    val l = new OneShot(spark, result.queryExecution.analyzed, release)
    val evicted = outstanding.synchronized {
      val q = outstanding.computeIfAbsent(spark,
        _ => new java.util.ArrayDeque[OneShot]())
      q.addLast(l)
      global.addLast(l)
      var out = List.empty[OneShot]
      while (q.size > MaxOutstanding) out ::= q.pollFirst()
      while (global.size > MaxOutstandingGlobal) out ::= global.pollFirst()
      out
    }
    spark.listenerManager.register(l)
    // if a concurrent registration already cap-evicted (fired) l in the
    // window before register, take the registration back out
    if (l.isFired) spark.listenerManager.unregister(l)
    evicted.foreach(_.fire())
  }
}
