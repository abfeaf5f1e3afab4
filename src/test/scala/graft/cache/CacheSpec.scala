package graft.cache

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.ParquetArchiveSource

class CacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("PeriodCache: closed days fetched once and persisted, open day refetched (R2)") {
    var backing = Map(
      "2024-01-01" -> Seq((1, 100L, 1.0)),
      "2024-01-02" -> Seq((1, 200L, 2.0)),
      "2024-01-03" -> Seq((1, 300L, 3.0)))
    val cache = new ArchiveCache.PeriodCache(
      p => backing(p).toDF("att_conf_id", "t", "value_r"),
      () => "2024-01-03")
    assert(cache.range("2024-01-01", "2024-01-03").count() == 3)
    assert(cache.fetches == 3)
    // closed days hit cache; the open day is fetched again
    assert(cache.range("2024-01-01", "2024-01-03").count() == 3)
    assert(cache.fetches == 4)
    // open-day append is visible without invalidation
    backing = backing.updated("2024-01-03",
      Seq((1, 300L, 3.0), (1, 350L, 3.5)))
    assert(cache.range("2024-01-01", "2024-01-03").count() == 4)
    // a mutated CLOSED day is (correctly) not re-read — immutability contract
    backing = backing.updated("2024-01-01", Seq.empty)
    assert(cache.range("2024-01-01", "2024-01-02").count() == 2)
    cache.invalidate()
  }

  test("PeriodCache: a hit never waits behind another day's in-flight " +
    "fetch; same-day callers share one fetch") {
    val fetchGate = new java.util.concurrent.CountDownLatch(1)
    val fetchEntered = new java.util.concurrent.CountDownLatch(1)
    val cache = new ArchiveCache.PeriodCache(
      p => {
        if (p == "2024-01-02") { fetchEntered.countDown(); fetchGate.await() }
        Seq((1, 100L, 1.0)).toDF("att_conf_id", "t", "value_r")
      },
      () => "2024-09-01")
    cache.period("2024-01-01") // warm day 1
    assert(cache.fetches == 1)
    // day 2's fetch parks on the gate in a background thread…
    val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val slow = ex.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = cache.period("2024-01-02").count()
      })
      assert(fetchEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // …while a HIT on day 1 completes immediately (the old design
      // ran fetches under the map monitor, so this get() would block
      // until the gate opened — i.e. this join would time out)
      val hit = ex.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = cache.period("2024-01-01").count()
      })
      assert(hit.get(10, java.util.concurrent.TimeUnit.SECONDS) == 1L)
      assert(!slow.isDone) // the miss really is still in flight
      fetchGate.countDown()
      assert(slow.get(10, java.util.concurrent.TimeUnit.SECONDS) == 1L)
      // same-day callers shared the one fetch
      assert(cache.period("2024-01-02").count() == 1L)
      assert(cache.fetches == 2)
    } finally { ex.shutdownNow(); cache.invalidate() }
  }

  test("PeriodCache: a slot evicted mid-compute then re-created by " +
    "another caller releases the first creator's frame (no leak)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val day1Calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fetchTag = new java.util.concurrent.atomic.AtomicInteger(0)
    val cache = new ArchiveCache.PeriodCache(
      p => {
        if (p == "2024-01-01" && day1Calls.incrementAndGet() == 1) {
          entered.countDown(); gate.await()
        }
        // per-call tag keeps the two day-1 fetches' PLANS distinct —
        // identical plans would share one CacheManager entry by
        // sameResult matching and mask the leak this test pins
        Seq((1, 100L, 1.0)).toDF("att_conf_id", "t", "value_r")
          .where(lit(fetchTag.incrementAndGet()) >= 0)
      },
      () => "2024-09-01")
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val first = ex.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = cache.period("2024-01-01")
        })
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // invalidate() while day 1 is mid-compute → its slot is
      // removed WITHOUT unpersist (ready not yet set)…
      cache.invalidate()
      // …and the key is re-created by a fresh caller before the first
      // creator finishes — a containsKey post-insert check would now
      // see the NEW entry and leak the first creator's persisted frame
      val recreated = cache.period("2024-01-01")
      gate.countDown()
      val df = first.get(10, java.util.concurrent.TimeUnit.SECONDS)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        && System.nanoTime() < deadline) Thread.sleep(50)
      assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the mid-compute-invalidated creator's frame stayed persisted")
      assert(df.count() == 1L) // still a valid (merely unpersisted) frame
      // the slot the map tracks is untouched by the loser's release
      assert(recreated.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE)
    } finally { ex.shutdownNow(); cache.invalidate() }
  }

  test("PeriodCache.range: a reversed range fails loudly, not with " +
    "an opaque empty.reduceLeft") {
    val cache = new ArchiveCache.PeriodCache(
      _ => Seq((1, 100L, 1.0)).toDF("att_conf_id", "t", "value_r"),
      () => "2024-09-01")
    val e = intercept[IllegalArgumentException] {
      cache.range("2024-01-05", "2024-01-01")
    }
    assert(e.getMessage.contains("reversed"))
    cache.invalidate()
  }

  test("PeriodCache: a failed fetch is retried, not cached") {
    var attempts = 0
    val cache = new ArchiveCache.PeriodCache(
      p => {
        attempts += 1
        if (attempts == 1) sys.error("transient archive failure")
        Seq((1, 100L, 1.0)).toDF("att_conf_id", "t", "value_r")
      },
      () => "2024-09-01")
    intercept[RuntimeException] { cache.period("2024-01-01") }
    // the slot memoizes the FRAME, never the failure
    assert(cache.period("2024-01-01").count() == 1)
    assert(attempts == 2)
    // and the recovered frame is a normal cached hit afterwards
    assert(cache.period("2024-01-01").count() == 1)
    assert(attempts == 2)
    cache.invalidate()
  }

  test("refreshOpenDay: truncate to full second, union fresh rows (R1/F4/U3/O5)") {
    // cached has rows up to t=2.7s; fresh source has a sub-second
    // straggler at 2.4s (µs precision arrived late) plus new rows
    val cached = Seq((1, 1500000L, 1.0), (2, 2400000L, 2.0),
      (3, 2700000L, 3.0)).toDF("att_conf_id", "t", "value_r")
    val source = Seq((2, 2400000L, 2.0), (4, 2450000L, 2.5),
      (3, 2700000L, 3.0), (5, 3100000L, 4.0))
    val (merged, bound) = ArchiveCache.refreshOpenDay(cached,
      since => source.filter(_._2 >= since)
        .toDF("att_conf_id", "t", "value_r"))
    assert(bound == 2000000L) // floor(2.7s) = 2s
    val ids = merged.select("att_conf_id").as[Int].collect().sorted
    // kept: t<2s (id 1); fresh: everything ≥2s (ids 2,4,3,5) — no dupes
    assert(ids.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("refreshOpenDay with empty cache fetches everything") {
    val cached = Seq.empty[(Int, Long, Double)]
      .toDF("att_conf_id", "t", "value_r")
    val (merged, _) = ArchiveCache.refreshOpenDay(cached,
      _ => Seq((1, 100L, 1.0)).toDF("att_conf_id", "t", "value_r"))
    assert(merged.count() == 1)
  }

  test("TtlCache: memoizes within TTL, reloads after expiry (S5)") {
    var now = 1000L
    var loaded = 0
    val c = new ArchiveCache.TtlCache[Int](60000L, () => { loaded += 1; loaded },
      () => now)
    assert(c.get() == 1 && c.get() == 1 && loaded == 1)
    now += 59999L
    assert(c.get() == 1 && loaded == 1)
    now += 2L
    assert(c.get() == 2 && loaded == 2)
    c.invalidate()
    assert(c.get() == 3)
  }

  test("pointsResolved unions typed tables with value_r widened (hdbpp.py:404-410)") {
    val root = Files.createTempDirectory("graft-archive").toString
    Seq(("cs:1", "a/b/c/d", 1, "scalar_devdouble_ro"),
      ("cs:1", "a/b/c/e", 2, "scalar_devlong_ro"))
      .toDF("cs_name", "att_name", "att_conf_id", "data_type")
      .write.parquet(s"$root/att_conf")
    Seq((1, "2024-01-01", 100L, 1.25))
      .toDF("att_conf_id", "period", "t", "value_r")
      .write.parquet(s"$root/att_scalar_devdouble_ro")
    Seq((2, "2024-01-01", 200L, 42))
      .toDF("att_conf_id", "period", "t", "value_r")
      .write.parquet(s"$root/att_scalar_devlong_ro")
    val src = new ParquetArchiveSource(spark, root)
    val rows = src.pointsResolved(Seq(1, 2), "2024-01-01", "2024-01-01")
      .orderBy("att_conf_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(3) == 1.25)
    assert(rows(1).getDouble(3) == 42.0) // long widened to double
    // resolution respects the requested subset
    assert(src.pointsResolved(Seq(2), "2024-01-01", "2024-01-01")
      .count() == 1)
  }
}
