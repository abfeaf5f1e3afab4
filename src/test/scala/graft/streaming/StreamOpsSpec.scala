package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class StreamOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("streamingResample: centered buckets, watermark-complete results") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val points = in.toDF().toDF("att_name", "t_us", "value_r")
      .withColumn("data_time", timestamp_micros(col("t_us")))
    val agg = StreamOps.streamingResample(points, "1s", "0 seconds")
    val q = agg.writeStream.format("memory").queryName("sr")
      .outputMode("complete").start()
    try {
      // Δ=1s: t=400ms → bucket 0; t=600ms and 1400ms → bucket 1s
      in.addData(("a", 400000L, 2.0), ("a", 600000L, 4.0),
        ("a", 1400000L, 6.0))
      q.processAllAvailable()
      val rows = spark.table("sr").orderBy("bucket_us")
        .as[(String, Long, Double, Long)].collect()
      assert(rows.toSeq == Seq(("a", 0L, 2.0, 1L), ("a", 1000000L, 5.0, 2L)))
      // a second batch merges into existing buckets
      in.addData(("a", 900000L, 8.0))
      q.processAllAvailable()
      val rows2 = spark.table("sr").orderBy("bucket_us")
        .as[(String, Long, Double, Long)].collect()
      assert(rows2.toSeq == Seq(("a", 0L, 2.0, 1L), ("a", 1000000L, 6.0, 3L)))
    } finally q.stop()
  }

  test("streamingSessions: gap-merged windows, cross-batch extension") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val events = in.toDF().toDF("k", "t_us")
      .withColumn("et", timestamp_micros(col("t_us")))
    val agg = StreamOps.streamingSessions(events, "k", "et",
      gap = "10 seconds", watermarkDelay = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("ss")
      .outputMode("complete").start()
    try {
      // 0s and 5s chain into one session [0, 15s); 30s starts another
      in.addData(("a", 0L), ("a", 5000000L), ("a", 30000000L))
      q.processAllAvailable()
      val rows = spark.table("ss").orderBy("t_start")
        .as[(String, Long, Long, Long)].collect()
      assert(rows.toSeq == Seq(
        ("a", 0L, 15000000L, 2L),
        ("a", 30000000L, 40000000L, 1L)))
      // a second batch: t=20s is 15s after the first session's last
      // event (no merge) but its [20s,30s) window touches the 30s
      // session, so those two merge into [20s,40s)
      in.addData(("a", 20000000L))
      q.processAllAvailable()
      val rows2 = spark.table("ss").orderBy("t_start")
        .as[(String, Long, Long, Long)].collect()
      assert(rows2.toSeq == Seq(
        ("a", 0L, 15000000L, 2L),
        ("a", 20000000L, 40000000L, 2L)))
    } finally q.stop()
  }

  test("streamingRangeJoin: in-window pairs match, cross-batch works") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val pIn = MemoryStream[(String, Long, Long)] // key, t_us, pid
    val oIn = MemoryStream[(String, Long, Long)] // key, t_us, oid
    val points = pIn.toDF().toDF("k", "pt_us", "pid")
      .withColumn("pt", timestamp_micros(col("pt_us"))).drop("pt_us")
    val openers = oIn.toDF().toDF("k", "ot_us", "oid")
      .withColumn("ot", timestamp_micros(col("ot_us"))).drop("ot_us")
    val joined = StreamOps.streamingRangeJoin(points, openers,
      "k", "pt", "ot", windowLen = "10 seconds",
      watermarkDelay = "1 hour")
    val q = joined.select("pid", "oid").writeStream.format("memory")
      .queryName("srj").outputMode("append").start()
    try {
      // NOTE: event times must sit well above the epoch — a timestamp
      // at the clamped initial watermark (1970-01-01) is dropped as
      // late by the join's state-watermark predicates
      val t0 = 1704067200000000L // 2024-01-01 (µs)
      // opener at +0s, window [0s, 10s]; points at +5s (in), +15s (out)
      oIn.addData(("a", t0, 100L))
      pIn.addData(("a", t0 + 5000000L, 1L), ("a", t0 + 15000000L, 2L),
        ("b", t0 + 5000000L, 3L)) // wrong key
      q.processAllAvailable()
      val got1 = spark.table("srj").as[(Long, Long)].collect().toSet
      assert(got1 == Set((1L, 100L)))
      // a later batch: a second opener catches the buffered +15s point
      oIn.addData(("a", t0 + 12000000L, 200L))
      q.processAllAvailable()
      val got = spark.table("srj").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 100L), (2L, 200L)))
    } finally q.stop()
  }

  test("stateless text ops (quality, scrub) compose with streams as-is") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "n_chars")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    // narrow projections need no state/watermark: append mode, per-batch
    val out = graft.operators.TextStats.scrub(docs)
    val q = out.writeStream.format("memory").queryName("sq")
      .outputMode("append").start()
    try {
      in.addData((1L, "mail me a@b.c now", 17L), (2L, "clean doc", 9L))
      q.processAllAvailable()
      val rows = spark.table("sq").orderBy("doc_id")
        .select("doc_id", "n_emails").as[(Long, Long)].collect()
      assert(rows.toSeq == Seq((1L, 1L), (2L, 0L)))
    } finally q.stop()
  }

  test("classifierScore filters a stream — quality gating needs no state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    // the classifier is a pure projection (plan-asserted in
    // CurationSpec), so the ingest-time quality gate is the SAME code
    // as the batch one — no retrain, no state, append mode
    val out = graft.operators.TextStats.classifierScore(docs,
      wStop = 3L, wUniq = 2L, wRep = 1L,
      lenBonus = 10L, lenLo = 20L, lenHi = 200L, bias = 10L)
      .where(org.apache.spark.sql.functions.col("keep"))
    val q = out.writeStream.format("memory").queryName("scls")
      .outputMode("append").start()
    try {
      in.addData((1L, "the a fox dog"), (2L, "w w v v"))
      q.processAllAvailable()
      in.addData((3L, "the a the a")) // second batch, same weights
      q.processAllAvailable()
      val rows = spark.table("scls").orderBy("doc_id")
        .select("doc_id", "margin").as[(Long, Long)].collect()
      // doc 1: 3·2+2·4-0-10 = 4 keep; doc 2: 4-2-10 = -8 drop;
      // doc 3: 3·4+2·2-2·1-10 = 4 keep
      assert(rows.toSeq == Seq((1L, 4L), (3L, 4L)))
    } finally q.stop()
  }

  test("stream-static dedup against a persisted corpus state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "completely different corpus content sits here quietly"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-sstate")
      .toString
    graft.operators.Dedup.writeDedupState(corpus, root)
    // exact: the stream-static anti join drops byte-identical docs
    val inE = MemoryStream[(Long, String)]
    val exact = StreamOps.streamingExactDedupAgainstCorpus(
      inE.toDF().toDF("doc_id", "text"), root)
    val qE = exact.writeStream.format("memory").queryName("sse")
      .outputMode("append").start()
    try {
      inE.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (11L, "novel streaming content never seen before"))
      qE.processAllAvailable()
      assert(spark.table("sse").select("doc_id").as[Long].collect()
        .toSeq == Seq(11L))
    } finally qE.stop()
  }

  test("streamingKmvDistinct: sketch state equals the batch sketch " +
    "over the stream prefix at every micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val b1 = (0 until 30).map(i => (i.toLong, s"l${i % 2}",
      s"tok$i shared common words here"))
    val b2 = (30 until 60).map(i => (i.toLong, s"l${i % 2}",
      s"tok$i shared common words here plus tok${i - 30}"))
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "lang", "text")
    val agg = graft.operators.TextStats.kmvDistinctTokens(docs, Seq("lang"),
      k = 8)
    val q = agg.writeStream.format("memory").queryName("kmv")
      .outputMode("complete").start()
    def batchOver(rows: Seq[(Long, String, String)]) =
      graft.operators.TextStats.kmvDistinctTokens(
          rows.toDF("doc_id", "lang", "text"), Seq("lang"), k = 8)
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    def streamed() = spark.table("kmv").orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(streamed() == batchOver(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(streamed() == batchOver(b1 ++ b2))
    } finally q.stop()
  }

  test("streamingHistBins: binned state + batch finisher equal the " +
    "batch quantile sketch over the stream prefix at every micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(13)
    def mkRows(r: Range) = r.map(i => (i.toLong, s"l${i % 2}",
      Seq.fill(1 + rnd.nextInt(200))("w").mkString(" ")))
    val b1 = mkRows(0 until 40)
    val b2 = mkRows(40 until 80)
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "lang", "text")
    val agg = graft.operators.TextStats.histBins(docs, Seq("lang"), 8)
    val q = agg.writeStream.format("memory").queryName("histbins")
      .outputMode("complete").start()
    def batchOver(rows: Seq[(Long, String, String)]) =
      graft.operators.TextStats.histQuantileSketch(
          rows.toDF("doc_id", "lang", "text"), Seq("lang"), 8)
        .orderBy("lang").collect().map(_.toSeq).toSeq
    def streamed() = graft.operators.TextStats.histQuantiles(
        spark.table("histbins"), Seq("lang"), 8)
      .orderBy("lang").collect().map(_.toSeq).toSeq
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(streamed() == batchOver(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(streamed() == batchOver(b1 ++ b2))
    } finally q.stop()
  }

  test("streamingHllDistinct: register state equals the batch sketch " +
    "over the stream prefix at every micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val b1 = (0 until 30).map(i => (i.toLong, s"l${i % 2}",
      s"tok$i shared common words here"))
    val b2 = (30 until 60).map(i => (i.toLong, s"l${i % 2}",
      s"tok$i shared common words here plus tok${i - 30}"))
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "lang", "text")
    val agg = graft.operators.TextStats.hllDistinctTokens(docs, Seq("lang"))
    val q = agg.writeStream.format("memory").queryName("hll")
      .outputMode("complete").start()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    def batchOver(rows: Seq[(Long, String, String)]) =
      canon(graft.operators.TextStats.hllDistinctTokens(
          rows.toDF("doc_id", "lang", "text"), Seq("lang"))
        .orderBy("lang").collect())
    def streamed() = canon(spark.table("hll").orderBy("lang").collect())
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(streamed() == batchOver(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(streamed() == batchOver(b1 ++ b2))
    } finally q.stop()
  }

  test("statePartitionsFor: volume ÷ (target × stores), clamped") {
    // tiny state collapses to one store (per-partition commit I/O is
    // the measured failure mode of over-partitioning; it scales with
    // partitions × STORES — the round-13 sf1 sweep found the 1-store
    // aggregations' optimum at 4× the 4-store join's partition count,
    // hence the per-store target)
    assert(StreamOps.statePartitionsFor(0) == 1)
    assert(StreamOps.statePartitionsFor(10_000) == 1)
    // 1-store aggregation (q32/q33): sf0.1 (~10^5 rows) → 2, sf1
    // (~10^6) → 16 — the sweep's measured optimum at sf1
    assert(StreamOps.statePartitionsFor(100_000) == 2)
    assert(StreamOps.statePartitionsFor(1_000_000) == 16)
    // 4-store stream-stream join (q34): the effective target is
    // 256 Ki/partition — the round-12 calibration, unchanged: one fat
    // store at sf0.1, a handful at sf1 (measured 3.0 s optimum vs
    // 8.7 s at 32)
    assert(StreamOps.statePartitionsFor(100_000,
      StreamOps.StateSizing(numStores = 4)) == 1)
    assert(StreamOps.statePartitionsFor(1_150_000,
      StreamOps.StateSizing(numStores = 4)) == 5)
    // 100× the sf1 volume scales the store count proportionally…
    assert(StreamOps.statePartitionsFor(115_000_000,
      StreamOps.StateSizing(numStores = 4,
        maxPartitions = Int.MaxValue)) == 439)
    // …until the default 256 clamp
    assert(StreamOps.statePartitionsFor(115_000_000,
      StreamOps.StateSizing(numStores = 4)) == 256)
    // custom target honored
    assert(StreamOps.statePartitionsFor(1_000_000,
      StreamOps.StateSizing(targetRowsPerPartition = 250_000)) == 4)
    // the hazard the config type exists to kill: a positional Int in
    // the knob slot (the old flat signature's silent misbinding) no
    // longer compiles
    assertTypeError(
      "StreamOps.statePartitionsFor(1_000_000L, 4)")
    assertTypeError(
      "StreamOps.statePartitionsFor(1_000_000L, 250_000L)")
  }

  test("streamingRangeJoin: identical time-column names on the two " +
    "inputs analyze and join (no AMBIGUOUS_REFERENCE)") {
    import spark.implicits._
    // both sides carrying the engine's canonical point schema — a
    // time column named "t" on each — must work: the join predicate
    // names both sides in one scope, so the time columns need the
    // same rename treatment as the key. Batch frames exercise the
    // identical analysis path (withWatermark is a no-op on batch).
    val base = java.time.Instant.parse("2024-01-05T00:00:00Z")
    def ts(plus: Long) = java.sql.Timestamp.from(base.plusSeconds(plus))
    val points = Seq(("a", ts(5), 1L), ("a", ts(60), 2L))
      .toDF("k", "t", "pid")
    val openers = Seq(("a", ts(0), 10L)).toDF("k", "t", "oid")
    val j = StreamOps.streamingRangeJoin(points, openers,
      "k", "t", "t", windowLen = "10 seconds", watermarkDelay = "1 hour")
    // colliding names: the opener's time comes back as t_open
    assert(j.columns.count(_ == "t") == 1 && j.columns.contains("t_open"))
    val rows = j.select("pid", "oid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L))) // ts(60) is outside the 10 s window
  }

  // ---- chaos: kill-and-restart from checkpoint, one per stateful ----
  // ---- family. Each test runs batches, STOPS the query, appends  ----
  // ---- more data, restarts from the same checkpoint, and asserts ----
  // ---- the result only reachable if pre-restart state was        ----
  // ---- recovered (a lost-state run produces a DIFFERENT, also-   ----
  // ---- valid-looking result, which is what makes these chaos     ----
  // ---- tests rather than reruns).                                ----

  private def stateDirs(ckpt: String, op: Int = 0): Set[String] = {
    val d = new java.io.File(s"$ckpt/state/$op")
    assert(d.isDirectory, s"no state dir at $d")
    d.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.forall(_.isDigit)).toSet
  }

  test("chaos: streamingResample restarts from checkpoint — agg state " +
    "survives, state partition count stays pinned over a conf change") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_sr").toString
    StreamOps.withStatePartitions(spark, 3) { sess =>
      import sess.implicits._
      implicit val sc = sess.sqlContext
      val in = MemoryStream[(String, Long, Double)]
      val points = in.toDF().toDF("att_name", "t_us", "value_r")
        .withColumn("data_time", timestamp_micros(col("t_us")))
      val agg = StreamOps.streamingResample(points, "1s", "0 seconds")
      def start(name: String) = agg.writeStream.format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      val q1 = start("sr_chaos1")
      try {
        in.addData(("a", 400000L, 2.0), ("a", 600000L, 4.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // the checkpoint pinned the state layout at 3 partitions
      assert(stateDirs(ckpt) == Set("0", "1", "2"))
      // restart under a conf that now claims 17 — the checkpoint wins
      sess.conf.set("spark.sql.shuffle.partitions", "17")
      in.addData(("a", 900000L, 8.0))
      val q2 = start("sr_chaos2")
      try {
        q2.processAllAvailable()
        // bucket 1s must MERGE the pre-restart 600ms point with the
        // post-restart 900ms one: mean 6.0 over n=2. Lost state would
        // read (8.0, 1) — a plausible-looking wrong answer.
        val rows = sess.table("sr_chaos2").orderBy("bucket_us")
          .as[(String, Long, Double, Long)].collect()
        assert(rows.toSeq == Seq(
          ("a", 0L, 2.0, 1L), ("a", 1000000L, 6.0, 2L)))
        assert(stateDirs(ckpt) == Set("0", "1", "2"))
      } finally q2.stop()
    }
  }

  test("chaos: streamingSessions restarts from checkpoint — an open " +
    "session extends across the restart instead of splitting") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_ss").toString
    StreamOps.withStatePartitions(spark, 3) { sess =>
      import sess.implicits._
      implicit val sc = sess.sqlContext
      val in = MemoryStream[(String, Long)]
      val events = in.toDF().toDF("k", "t_us")
        .withColumn("et", timestamp_micros(col("t_us")))
      val agg = StreamOps.streamingSessions(events, "k", "et",
        gap = "10 seconds", watermarkDelay = "0 seconds")
      def start(name: String) = agg.writeStream.format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      val q1 = start("ss_chaos1")
      try {
        in.addData(("a", 0L), ("a", 5000000L)) // one session [0, 15s)
        q1.processAllAvailable()
      } finally q1.stop()
      // 12s is within the 10s gap of the buffered 5s event: the
      // recovered session must extend to [0, 22s) n=3. Lost state
      // would report a fresh [12s, 22s) n=1 session.
      in.addData(("a", 12000000L))
      val q2 = start("ss_chaos2")
      try {
        q2.processAllAvailable()
        val rows = sess.table("ss_chaos2").orderBy("t_start")
          .as[(String, Long, Long, Long)].collect()
        assert(rows.toSeq == Seq(("a", 0L, 22000000L, 3L)))
      } finally q2.stop()
    }
  }

  test("chaos: streamingRangeJoin restarts from checkpoint — a point " +
    "buffered before the kill matches an opener arriving after it") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_rj").toString
    StreamOps.withStatePartitions(spark, 3) { sess =>
      import sess.implicits._
      implicit val sc = sess.sqlContext
      val pIn = MemoryStream[(String, Long, Long)]
      val oIn = MemoryStream[(String, Long, Long)]
      val points = pIn.toDF().toDF("k", "pt_us", "pid")
        .withColumn("pt", timestamp_micros(col("pt_us"))).drop("pt_us")
      val openers = oIn.toDF().toDF("k", "ot_us", "oid")
        .withColumn("ot", timestamp_micros(col("ot_us"))).drop("ot_us")
      val joined = StreamOps.streamingRangeJoin(points, openers,
        "k", "pt", "ot", windowLen = "10 seconds",
        watermarkDelay = "1 hour")
      // append-mode recovery needs a replayable sink; the parquet
      // FileStreamSink is exactly-once via its _spark_metadata log, so
      // a replayed batch would surface below as DUPLICATE rows
      val outDir = java.nio.file.Files.createTempDirectory("out_rj").toString
      def start() = joined.select("pid", "oid").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      def sunk(): Seq[(Long, Long)] =
        sess.read.parquet(outDir).as[(Long, Long)].collect().toSeq
      val t0 = 1704067200000000L // 2024-01-01 (µs), well above epoch
      val q1 = start()
      try {
        oIn.addData(("a", t0, 100L))
        pIn.addData(("a", t0 + 5000000L, 1L),  // in window → emits now
          ("a", t0 + 15000000L, 2L))           // buffered, no match yet
        q1.processAllAvailable()
        assert(sunk() == Seq((1L -> 100L)))
      } finally q1.stop()
      // the +15s point lives only in the JOIN STATE now; a post-
      // restart opener at +12s must still catch it
      oIn.addData(("a", t0 + 12000000L, 200L))
      val q2 = start()
      try {
        q2.processAllAvailable()
        // exactly the two matches, each committed once (no replay of
        // the pre-kill (1,100), no loss of the buffered +15s point)
        assert(sunk().sorted == Seq(1L -> 100L, 2L -> 200L))
        assert(stateDirs(ckpt) == Set("0", "1", "2"))
      } finally q2.stop()
    }
  }

  test("withStatePartitions: body runs on a clone carrying n + the " +
    "parent's runtime confs; the parent session is never mutated") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set("graft.test.carry", "yes")
    try {
      val (cloneN, carried, distinctSession, parentDuring) =
        StreamOps.withStatePartitions(spark, 5) { sess =>
          (sess.conf.get(key), sess.conf.get("graft.test.carry"),
            sess ne spark, spark.conf.get(key))
        }
      assert(cloneN == "5")
      assert(parentDuring == prev)
      // runtime confs copied (a fresh session starts from SparkConf,
      // not the parent's session conf — losing flags like the legacy
      // parquet nanos handling would change what the body reads)
      assert(carried == "yes")
      assert(distinctSession)
      // the parent's conf is untouched during AND after the body — the
      // old implementation mutated it under a process-wide lock
      assert(spark.conf.get(key) == prev)
    } finally spark.conf.unset("graft.test.carry")
  }
}
