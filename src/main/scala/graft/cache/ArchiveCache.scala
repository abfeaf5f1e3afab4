package graft.cache

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Caching policies mirroring the reference's two caches:
  *
  *  - **Period cache (R2)**: closed days are immutable (data is
  *    append-only by day), so their frames are `persist()`ed and reused
  *    forever; the open day is re-fetched, optionally incrementally;
  *    future days are never cached (`hdbpp.py:329-360`).
  *  - **Open-day incremental refresh (R1/F4/U3/O5)**: keep the cached
  *    prefix, drop rows at-or-after the last full second, fetch only
  *    `data_time >= bound` fresh rows, and union (`hdbpp.py:362-397`
  *    — the second-truncation avoids duplicating rows whose sub-second
  *    µs part arrived after the cached read).
  *  - **TTL cache (S5)**: 60 s memoization of the catalog
  *    (`utils.py:29-50`), behind [[graft.server.HttpShim]]'s snapshot.
  *
  * Scale note: `persist()` delegates eviction to Spark's LRU block
  * manager (the reference hand-rolls a 1 GB LRU, `utils.py:174-236`);
  * MEMORY_AND_DISK means a cold cluster degrades to re-reads, never
  * OOM. Cache keys are period strings — the same whole-day granularity
  * the reference chose to maximize hit rate (`hdbpp.py:16-21`).
  */
object ArchiveCache {

  /** Closed-period persist cache. `fetch` loads one period's frame;
    * `today` supplies the current UTC date (injectable for tests).
    * Eviction of the persisted blocks is Spark's own LRU block manager
    * (MEMORY_AND_DISK: a full store degrades to disk, then to
    * recompute — never OOM). */
  final class PeriodCache(fetch: String => DataFrame,
      today: () => String) {
    // The map's monitor guards only get/put BOOKKEEPING — the
    // fetch+persist itself runs under the per-day Slot's own lazy-val
    // lock, so a miss in flight blocks only same-day callers; cache
    // hits on other days never wait behind it (an earlier design ran
    // fetch under this monitor, turning every concurrent hit into a
    // full-fetch-latency stall).
    private val closed = new java.util.HashMap[String, Slot]
    private[graft] var fetches = 0L   // instrumentation for tests

    /** One closed day's memoized frame. `df` is a lazy val: the first
      * accessor computes fetch+persist (confined to this slot's
      * monitor), later same-day callers block here and reuse it; a
      * failed fetch leaves the lazy val uninitialized, so the next
      * access retries rather than caching the failure. `ready` is set
      * only after a successful compute — [[invalidate]] unpersists
      * through it and skips slots still mid-compute (the computing
      * thread's post-insert check below handles that race). */
    private final class Slot(p: String) {
      @volatile var ready: DataFrame = _
      lazy val df: DataFrame = {
        closed.synchronized { fetches += 1 }
        val d = fetch(p).persist(StorageLevel.MEMORY_AND_DISK)
        ready = d
        d
      }
    }

    /** Frame for one period: persisted+memoized if the period is
      * closed (strictly before today), fetched fresh otherwise. */
    def period(p: String): DataFrame = {
      val isClosed = p < today()
      if (!isClosed) {
        closed.synchronized { fetches += 1 }
        return fetch(p)
      }
      var created: Slot = null
      val slot = closed.synchronized {
        val hit = closed.get(p)
        if (hit != null) hit
        else {
          created = new Slot(p)
          closed.put(p, created)
          created
        }
      }
      val df = slot.df // fetch+persist OUTSIDE the map monitor
      // IDENTITY check, not containsKey: if invalidate() dropped OUR
      // mid-compute slot and another caller already re-created the
      // key, containsKey would be true and this thread's persisted
      // frame would leak untracked forever. Lost that race: the frame
      // is no longer tracked, so release it ourselves (the caller
      // still gets a valid, merely unpersisted, frame).
      if (created != null && closed.synchronized(closed.get(p) ne created))
        df.unpersist()
      df
    }

    /** Union of [p0, p1] (inclusive, "YYYY-MM-DD" strings) — the
      * per-day fan-out ∪ (reference U1) with closed days served from
      * cache. */
    def range(p0: String, p1: String): DataFrame = {
      val days = graft.sources.CassandraArchiveSource.periods(p0, p1)
      // loud on a reversed range — the empty Seq would otherwise
      // surface as an opaque `empty.reduceLeft` from deep inside
      require(days.nonEmpty,
        s"reversed period range: '$p0' is after '$p1'")
      days.map(period).reduce(_ unionByName _)
    }

    def invalidate(): Unit = closed.synchronized {
      // mid-compute slots (ready == null) are released by their
      // computing thread's post-insert check in period()
      closed.values.forEach(s => { if (s.ready != null) s.ready.unpersist(); () })
      closed.clear()
    }
  }

  /** R1/F4/U3/O5 — incremental open-day merge: truncate the cached
    * frame to the last FULL second before its max `data_time`, then
    * union fresh rows from `fetchSince(boundUs)`. Returns the merged
    * frame and the bound used (µs). `cached` needs a µs `t` column. */
  def refreshOpenDay(cached: DataFrame,
      fetchSince: Long => DataFrame): (DataFrame, Long) = {
    // O5 — max cached timestamp (one tiny agg job)
    val maxT = cached.agg(max(col("t"))).collect().head
    if (maxT.isNullAt(0)) {
      // empty cache: everything is fresh
      (fetchSince(Long.MinValue), Long.MinValue)
    } else {
      // F4 — truncate to the last full second (µs → s floor)
      val boundUs = (maxT.getLong(0) / 1000000L) * 1000000L
      val kept = cached.where(col("t") < boundUs)
      // U3 — truncated prefix ∪ fresh suffix
      (kept.unionByName(fetchSince(boundUs)), boundUs)
    }
  }

  /** S5 — TTL memoization (`utils.py:29-50`). `clock` injectable. */
  final class TtlCache[T](ttlMs: Long, load: () => T,
      clock: () => Long = () => System.currentTimeMillis()) {
    private var value: Option[(Long, T)] = None
    private[cache] var loads = 0L

    def get(): T = synchronized {
      val now = clock()
      value match {
        case Some((at, v)) if now - at < ttlMs => v
        case _ =>
          loads += 1
          val v = load()
          value = Some((now, v))
          v
      }
    }

    def invalidate(): Unit = synchronized { value = None }
  }
}
