package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "spark shuffles data between stages when keys move around nodes"),
    (3L, "completely different text with nothing shared at all here now"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val r = Dedup.exact(docs).orderBy("keep_id").collect()
    assert(r.length == 3)
    assert(r(0).getLong(0) == 0L && r(0).getLong(1) == 2L)
    assert(r(1).getLong(1) == 1L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val corpus = docs.union(Seq(
      (10L, "quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")) // doc 0 minus first word
    val pairs = Dedup.minhashNearDups(corpus, spark, threshold = 0.5)
      .orderBy("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(pairs.exists { case (a, b, j) => a == 0L && b == 1L && j == 1.0 })
    assert(pairs.exists { case (a, b, j) => a == 0L && b == 10L && j > 0.7 })
    assert(!pairs.exists { case (a, b, _) => Set(a, b).contains(3L) })
  }

  test("minhashEstimate: exact dups estimate 1.0 with zero error; every " +
    "row is internally consistent and covers exactly the candidate set") {
    val corpus = docs.union(Seq(
      (10L, "quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text"))
    val rows = Dedup.minhashEstimate(corpus, spark).collect()
    val dup = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get
    // identical docs: all 16 components agree, jaccard exactly 1
    assert(dup.getLong(2) == 16L && dup.getLong(3) == 10000L)
    assert(dup.getLong(4) == dup.getLong(5) && dup.getLong(6) == 10000L)
    assert(dup.getLong(7) == 0L)
    rows.foreach { r =>
      val (agree, est, inter, union, jac, err) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(est == agree * 10000L / 16L)
      assert(jac == inter * 10000L / union)
      assert(err == math.abs(est - jac))
      assert(agree >= 4L, "candidates share a band: ≥ rowsPerBand agree")
    }
    // audited pairs = the LSH candidate set = minhashNearDups at
    // threshold 0, and the exact counts agree between the two paths
    val nd = Dedup.minhashNearDups(corpus, spark, threshold = 0.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
      r.getLong(5))).toSet == nd)
  }

  test("minhashEstimate releases its shingle-set cache after first use") {
    val corpus = docs.union(Seq(
      (10L, "quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Dedup.minhashEstimate(corpus, spark)
    assert(r.count() > 0)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty,
      s"shingle-set cache still pinned after materialization: $leaked")
  }

  test("all three shingle-id strategies find the same verified pairs") {
    val corpus = docs.union(Seq(
      (10L, "quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text"))
    def pairs(ids: String) =
      Dedup.minhashNearDups(corpus, spark, threshold = 0.5, ids = ids)
        .select("d1", "d2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // signatures differ (different id spaces) but the verified output —
    // candidate pairs that pass exact Jaccard — must agree
    val poly = pairs("poly")
    assert(poly == pairs("dense") && poly == pairs("hash64"))
  }

  test("poly_hash31: codegen ≡ interpreted ≡ the DuckDB recurrence") {
    graft.functions.PolyHash31.register(spark)
    // golden value cross-checked against DuckDB:
    //   list_reduce(list_prepend(0, list_transform(
    //     string_split('abc xy z',''), c -> ascii(c))),
    //     (acc,u) -> (acc*131+u) % 2147483647) = 1909285148
    val viaSql = Seq("abc xy z").toDF("s")
      .selectExpr("poly_hash31(s)").as[Long].head()
    assert(viaSql == 1909285148L)
    assert(graft.functions.PolyHash31.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc xy z"))
      == 1909285148L)
    // range + determinism over a sample
    val rnd = new scala.util.Random(5)
    val hs = (0 until 200).map(_ => rnd.alphanumeric.take(12).mkString)
      .toDF("s").selectExpr("poly_hash31(s) as h").as[Long].collect()
    assert(hs.forall(h => h >= 0 && h < 2147483647L))
  }

  test("minhash_sigs equals the exploded per-permutation min aggregation") {
    graft.functions.PolyHash31.register(spark)
    val rnd = new scala.util.Random(13)
    val rows = (0L until 40L).map(d =>
      (d, Seq.fill(rnd.nextInt(30) + 1)(rnd.nextLong(2147483647L))
        .distinct))
    val ds = rows.toDF("doc_id", "tids")
    val viaExpr = ds.selectExpr("doc_id", "minhash_sigs(tids, 16) as sig")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val dt = rows.flatMap { case (d, ts) => ts.map(d -> _) }
      .toDF("doc_id", "tid")
    val viaAgg = Dedup.minhashSignatures(dt, 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(viaExpr.keySet == viaAgg.keySet)
    viaExpr.foreach { case (d, sig) => assert(sig == viaAgg(d), s"doc $d") }
  }

  test("vocab: parallel two-pass rank equals the sorted dense ids") {
    val rnd = new scala.util.Random(7)
    val words = (0 until 500).map(_ => rnd.alphanumeric.take(6).mkString)
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "w")
    val got = TextOps.vocab(df, "w").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    val expected = words.distinct.sorted.zipWithIndex
      .map { case (w, i) => (w, i + 1L) }
    assert(got.toSeq == expected)
    // no unpartitioned window in the plan — the round-2 hotspot
    val ws = TextOps.vocab(df, "w").queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(ws.isEmpty)
  }

  test("lshCandidates: degenerate buckets degrade to star pairs") {
    // one healthy bucket (2 docs) + one degenerate bucket (5 docs)
    val bands = (Seq((0, "k1", 10L), (0, "k1", 11L)) ++
      (0L until 5L).map(i => (1, "boiler", 100L + i)))
      .toDF("band", "bkey", "doc_id")
    val capped = Dedup.lshCandidates(bands, maxBucket = 4)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // over-cap bucket: STAR around the min doc (n−1 pairs, every
    // member still reachable), never C(n,2); healthy bucket unchanged
    assert(pairs.toSet == Set((10L, 11L),
      (100L, 101L), (100L, 102L), (100L, 103L), (100L, 104L)))
    // …and the overflow is accounted in the observe metric
    val obs = capped.queryExecution.observedMetrics.values
    assert(obs.exists(m => m.getAs[Long]("overflow_buckets") == 1L
      && m.getAs[Int]("max_bucket_size") == 5))
    // default cap keeps all pairs: 1 + C(5,2)
    assert(Dedup.lshCandidates(bands).count() == 11L)
  }

  test("jaccardVerify computes exact set Jaccard for candidates") {
    val dt = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 2L), (2L, 3L), (2L, 4L))
      .toDF("doc_id", "tid")
    val cand = Seq((1L, 2L)).toDF("d1", "d2")
    val r = Dedup.jaccardVerify(cand, dt, 0.0).collect()
    assert(r.length == 1)
    assert(r.head.getLong(2) == 2L && r.head.getLong(3) == 4L
      && r.head.getDouble(4) == 0.5)
  }

  test("simhash: identical texts share a signature, distinct texts differ") {
    val sig = Dedup.simhash(docs, spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L))
    assert(sig.values.toSet.size >= 2)
    assert(sig.values.forall(s => s >= 0 && s < (1 << 16)))
  }

  test("simhashHammingDups equals the brute-force Hamming ball, pairs " +
    "never duplicated by multi-block collisions") {
    // a corpus wide enough that blocks actually split the work: 30
    // distinct docs + 2 exact copies (hamming 0 pairs collide in
    // BOTH blocks — the distinct must collapse them to one row)
    val corpus = ((0 until 30).map(i =>
      (i.toLong, s"tok$i alpha beta gamma delta tok${i * 7 % 30} " +
        s"word${i % 5} text common shared across docs here"))
      ++ Seq((100L, "tok3 alpha beta gamma delta tok21 word3 " +
          "text common shared across docs here"),
        (101L, "tok3 alpha beta gamma delta tok21 word3 " +
          "text common shared across docs here")))
      .toDF("doc_id", "text")
    for (maxDist <- Seq(1, 2)) {
      val got = Dedup.simhashHammingDups(corpus, spark, maxDist = maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      // brute force from the (already-tested) fingerprints
      val sig = Dedup.simhash(corpus, spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val want = for {
        ((d1, s1), i) <- sig.zipWithIndex
        (d2, s2) <- sig.drop(i + 1)
        h = java.lang.Long.bitCount(s1 ^ s2)
        if h <= maxDist
      } yield (d1, d2, h)
      assert(got.sorted.toSeq == want.sorted,
        s"maxDist=$maxDist: blocked join must equal the exact ball")
      // the two planted copies of doc 3's text are hamming-0 of each
      // other — present exactly once despite colliding in all blocks
      assert(got.count(p => p._1 == 100L && p._2 == 101L) == 1)
      assert(got.find(p => p._1 == 100L && p._2 == 101L).get._3 == 0)
    }
  }

  test("blockedJaccard only pairs within the same block") {
    val d = Seq(
      (0L, "en", "s1", "a b c d"), (1L, "en", "s1", "a b c e"),
      (2L, "en", "s2", "a b c d"), (3L, "fr", "s1", "a b c d"))
      .toDF("doc_id", "lang", "source", "text")
    val pairs = Dedup.blockedJaccard(d, Seq("lang", "source"), 0.1)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(pairs.toSet == Set((0L, 1L))) // same (lang, source) only
  }

  test("winnowStats: shifted near-copies share fingerprints, strangers none") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val d = Seq(
      (0L, base),
      (1L, base.split(" ").drop(3).mkString(" ")), // shifted copy
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))      // unrelated
      .toDF("doc_id", "text")
    val r = Dedup.winnowStats(d, spark).orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // the copy's grams are a suffix of the original's: every one of
    // its selected minima is also selectable upstream — high overlap
    assert(r(1L)._2 > 0, "shifted copy shared no fingerprints")
    assert(r(0L)._2 > 0)
    // the stranger shares nothing
    assert(r(2L)._2 == 0)
    // fingerprint sets are bounded by the window count
    assert(r(0L)._1 <= 16 - 3 - 3)
  }

  test("fingerprint: equal token sequences agree, shifts differ") {
    val d = Seq(
      (0L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (2L, "h g f e d c b a")).toDF("doc_id", "text")
    val fp = Dedup.fingerprint(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L)._2 == 5L) // 8 tokens → 5 4-grams
    assert(fp(0L)._1 != fp(2L)._1)
  }

  test("connectedComponents: chains merge, components stay separate") {
    // component {1,2,3,9} via a chain (needs >1 propagation round),
    // component {5,7}, pair order within an edge irrelevant
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 7L))
      .toDF("d1", "d2")
    val r = Dedup.connectedComponents(pairs).orderBy("doc_id").collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
    assert(r.toSeq == Seq(
      (1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L), (5L, 5L, 1L),
      (7L, 5L, 0L), (9L, 1L, 0L)))
  }

  test("connectedComponents: long path converges past checkpoint rounds") {
    // a 16-node path through the DISTRIBUTED loop (threshold 0 — the
    // default fast path would solve this driver-side): min label must
    // walk the full diameter, crossing the lineage-checkpoint boundary
    val pairs = (1L until 16L).map(i => (i, i + 1)).toDF("d1", "d2")
    val r = Dedup.connectedComponents(pairs, localEdgeThreshold = 0)
      .collect()
    assert(r.length == 16)
    assert(r.forall(_.getLong(1) == 1L))
    assert(r.map(row => row.getLong(2)).sum == 1L) // exactly one keeper
  }

  test("connectedComponents: empty pair list yields empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.connectedComponents(empty).count() == 0)
    assert(Dedup.connectedComponents(empty, localEdgeThreshold = 0)
      .count() == 0)
  }

  test("connectedComponents: driver fast path ≡ distributed loop on a " +
    "seeded random graph, and on int ids") {
    // 200 nodes, ~150 random edges — multiple components, chains,
    // cycles; both paths must produce the identical clustering
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 150)
      .map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .toDF("d1", "d2")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fast = canon(Dedup.connectedComponents(pairs))
    val loop = canon(Dedup.connectedComponents(pairs,
      localEdgeThreshold = 0))
    assert(fast == loop)
    // int ids keep their type through the fast path
    val intPairs = Seq((2, 1), (5, 7)).toDF("d1", "d2")
    val ri = Dedup.connectedComponents(intPairs).orderBy("doc_id")
    assert(ri.schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(ri.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1, 1, 1L), (2, 1, 0L), (5, 5, 1L), (7, 5, 0L)))
  }

  test("connectedComponents: mixed-width id columns fall through to the " +
    "loop; null endpoints register singletons on the fast path") {
    // d1 long / d2 int: the fast path's typed getters would CCE, so
    // eligibility must reject it — the loop coerces via union and
    // still clusters correctly
    val mixed = Seq((2L, 1), (5L, 7)).toDF("d1", "d2")
    val rm = Dedup.connectedComponents(mixed).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rm.toSeq == Seq(
      (1L, 1L, 1L), (2L, 1L, 0L), (5L, 5L, 1L), (7L, 5L, 0L)))
    // a null endpoint never unions; its non-null partner survives as
    // a singleton component — and BOTH paths agree on that shape (no
    // null doc_id row from the loop, no dropped singleton from the
    // fast path): identical input must not change output with the
    // path taken
    val withNull = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, null), (null, null)).toDF("d1", "d2")
    val expected = Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 3L, 1L))
    def canonN(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(canonN(Dedup.connectedComponents(withNull)) == expected)
    assert(canonN(Dedup.connectedComponents(withNull,
      localEdgeThreshold = 0)) == expected)
  }

  test("connectedComponents: non-convergence releases every cached " +
    "intermediate (no leak on the failure path)") {
    // diameter-7 path, maxIter=2 through the distributed loop: the
    // convergence require must fire AND release base/edges/labels
    // (same wait-loop pattern as the minhashEstimate release test —
    // unpersist propagates asynchronously)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxIter = 2,
        localEdgeThreshold = 0)
    }
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty,
      s"failure path leaked persisted frames: $leaked")
  }

  test("bestQualityKeep: best margin wins its cluster, ties to smallest " +
    "id, non-members untouched, joins broadcast") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (7L, 5L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, -3L), (2L, 8L), (3L, 8L), (5L, 0L), (7L, 0L),
      (99L, 100L)) // 99: corpus doc outside any cluster — must not appear
      .toDF("doc_id", "margin")
    val r = Dedup.bestQualityKeep(clusters, quality)
    val rows = r.orderBy("cluster_id", "doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getBoolean(4)))
    assert(rows.toSeq == Seq(
      (1L, 1L, -3L, 2L, false),  // margin tie 2 vs 3 → smallest id 2
      (1L, 2L, 8L, 2L, true),
      (1L, 3L, 8L, 2L, false),
      (5L, 5L, 0L, 5L, true),    // tie 5 vs 7 → 5
      (5L, 7L, 0L, 5L, false)))
    // both joins must broadcast the small side — no corpus shuffle join
    val plan = r.queryExecution.optimizedPlan.toString
    assert(!r.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      s"expected broadcast joins:\n$plan")
  }

  test("bestQualityKeep releases its members cache after first " +
    "materialization (persist branch forced past the size gate)") {
    // r18: `members` (quality ⋈ clusters) is persisted — size-gated on
    // the quality input's estimated bytes — so the quality frame, a
    // full-corpus classifier pass for real callers, is computed ONCE
    // instead of once per consumer (argmax + audit join); the one-shot
    // listener must drain the cache after the result's first
    // materialization. Gate forced to 0 here so the tiny fixture takes
    // the at-scale persist branch.
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 0L)).toDF("doc_id", "margin")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.conf.set("graft.cache.membersPersistMinBytes", "0")
    try {
      val r = Dedup.bestQualityKeep(clusters, quality)
      // persist() registers with the cache manager synchronously —
      // getPersistentRDDs would only show it after materialization
      assert(!spark.sharedState.cacheManager.isEmpty,
        "gate=0 must take the persist branch")
      assert(r.count() == 2)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(leaked.isEmpty, s"members cache still pinned: $leaked")
      // a second materialization recomputes and still answers correctly
      assert(r.orderBy("doc_id").collect().map(_.getBoolean(4)).toSeq ==
        Seq(false, true))
    } finally spark.conf.unset("graft.cache.membersPersistMinBytes")
  }

  test("bestQualityKeep size gate: a provably-small quality input " +
    "skips the persist and both branches agree") {
    // The r18 session-3 A/B measured the members cache round-trip at
    // 1.3–1.4× control-normalized on p65 at sf0.1 — below the gate the
    // fused re-scan is cheaper, so small inputs must NOT persist, and
    // the branch choice must be result-invisible.
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 5L), (7L, 5L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, -3L), (2L, 8L), (5L, 0L), (7L, 0L), (99L, 4L))
      .toDF("doc_id", "margin")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val gated = Dedup.bestQualityKeep(clusters, quality)
      .orderBy("cluster_id", "doc_id").collect().toSeq
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "a tiny in-memory quality frame must take the no-persist branch")
    spark.conf.set("graft.cache.membersPersistMinBytes", "0")
    val forced =
      try Dedup.bestQualityKeep(clusters, quality)
        .orderBy("cluster_id", "doc_id").collect().toSeq
      finally spark.conf.unset("graft.cache.membersPersistMinBytes")
    assert(gated == forced, "persist gate changed the result set")
  }

  test("incrementalDedup: batch deduped against corpus, novel docs pass") {
    val existing = docs // 0≡1, 2, 3
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // exact copy of 0
      (21L, "quick brown fox jumps over the lazy dog again and again"),     // near-copy of 0
      (22L, "entirely novel content that matches nothing in the corpus"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, existing, spark)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(22L))
    // the precomputed-state path admits exactly the same survivors
    val root = java.nio.file.Files.createTempDirectory("graft-dstate")
      .toString
    Dedup.writeDedupState(existing, root)
    val keptPre = Dedup.incrementalDedup(batch, root, spark, 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(keptPre == kept)
    // …and the state carries its own banding parameters
    val meta = spark.read.parquet(s"$root/dedup_meta").head()
    assert(meta.getAs[Int]("num_perms") == 16)
  }

  test("dedupedCorpus: exact copies and near-dup satellites both die") {
    // 0≡1 exact (min 0 survives); 10 is a near-copy of 0 (first word
    // dropped → clusters with 0, 0 canonical); 2 and 3 unique
    val corpus = docs.union(Seq(
      (10L, "quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text"))
    val kept = Dedup.dedupedCorpus(corpus, spark, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L))
  }

  test("scrubRepeatedNgrams: shared runs merge into one span, " +
    "non-shared text survives verbatim") {
    // A and B share the 4-token run "a b c d" → two overlapping
    // 3-grams, but exactly 4 tokens must go from each; C is too short
    // for any 3-gram; D shares nothing
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d q"),
      (3L, "zz ww"),
      (4L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedNgrams(corpus, spark, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(out(1L) == ((6L, 4L, "e f")))
    assert(out(2L) == ((7L, 4L, "x y q")))
    assert(out(3L) == ((2L, 0L, "zz ww")))
    assert(out(4L) == ((4L, 0L, "totally unrelated words here")))
  }

  test("scrubRepeatedNgrams: n >= 8 runs (per-step modular reduction " +
    "never overflows int64, where the end-only mod threw under ANSI)") {
    val run = (1 to 12).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$run tail one"),
      (2L, s"other head $run"),
      (3L, "nothing shared here at all in this doc"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedNgrams(corpus, spark, n = 9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(4)))).toMap
    // the shared 12-token run goes from both docs, the rest survives
    assert(out(1L) == ((12L, "tail one")))
    assert(out(2L) == ((12L, "other head")))
    assert(out(3L)._1 == 0L)
  }

  test("lshBands/sigBandKeys reject a remainder that would silently " +
    "drop trailing permutations from banding") {
    val e = intercept[IllegalArgumentException] {
      Dedup.sigBandKeys(numPerms = 16, rowsPerBand = 5)
    }
    assert(e.getMessage.contains("divide"))
    val sigs = Seq((1L, 1L, 2L)).toDF("doc_id", "sig0", "sig1")
    intercept[IllegalArgumentException] {
      Dedup.lshBands(sigs, numPerms = 2, rowsPerBand = 3)
    }
  }

  test("scrubRepeatedNgrams: an exact duplicate pair is fully " +
    "removed on BOTH sides; a within-doc repeat alone is not shared") {
    val corpus = Seq(
      (1L, "one two three four five"),
      (2L, "one two three four five"),
      // 3 repeats its own gram twice but NO other doc has it:
      // df counts distinct docs, so nothing is scrubbed
      (3L, "p q r p q r p q r"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedNgrams(corpus, spark, n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(4)))).toMap
    assert(out(1L) == ((5L, "")) && out(2L) == ((5L, "")))
    assert(out(3L) == ((0L, "p q r p q r p q r")))
  }
}
