package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The round-8 curation additions: boilerplate strip (p42), linear
  * quality classifier (p43), lexical top-k retrieval (p44). */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---------------------------------------------------------------- stripBoilerplate

  // chunk size 4 below; "h1 h2 h3 h4" is the shared boilerplate prefix
  private def bpDocs = Seq(
    (0L, "h1 h2 h3 h4 a1 a2 a3 a4 tail1 tail2"),
    (1L, "h1 h2 h3 h4 b1 b2 b3 b4"),
    (2L, "c1 c2 c3 c4 c5"),
    (3L, "h1 h2 h3 h4"),
    (4L, "h1 h2 h3 h4")) // doc 3's exact copy — fully boilerplate
    .toDF("doc_id", "text")

  test("stripBoilerplate drops shared chunks, keeps order + partial tail") {
    val r = Dedup.stripBoilerplate(bpDocs, k = 4, maxDocFreq = 1L)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r(0) == ((0L, 3L, 1L, "a1 a2 a3 a4 tail1 tail2"))) // partial tail kept
    assert(r(1) == ((1L, 2L, 1L, "b1 b2 b3 b4")))
    assert(r(2) == ((2L, 2L, 0L, "c1 c2 c3 c4 c5"))) // untouched, incl. 1-token tail chunk
    // both copies of the all-boilerplate doc survive as rows, empty text
    assert(r(3) == ((3L, 1L, 1L, "")))
    assert(r(4) == ((4L, 1L, 1L, "")))
  }

  test("stripBoilerplate maxDocFreq raises the removal threshold") {
    // chunk must appear in >2 docs to be stripped; the h-prefix appears
    // in 4 docs (0,1,3,4) so it still goes, but nothing else changes
    val r = Dedup.stripBoilerplate(bpDocs, k = 4, maxDocFreq = 2L)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(1L, 1L, 0L, 1L, 1L))
    // with the threshold above every df, nothing is dropped
    val none = Dedup.stripBoilerplate(bpDocs, k = 4, maxDocFreq = 10L)
      .orderBy("doc_id").collect()
    assert(none.forall(_.getLong(2) == 0L))
    assert(none(3).getString(3) == "h1 h2 h3 h4")
  }

  test("stripBoilerplate keeps a null-text doc's row (empty chunk)") {
    val d = Seq((0L, "a b"), (1L, null: String)).toDF("doc_id", "text")
    val r = Dedup.stripBoilerplate(d, k = 2).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq((0L, 1L, 0L, "a b"), (1L, 1L, 0L, "")))
  }

  test("stripBoilerplate drops a doc-internal repeat only if corpus-shared") {
    // "x1 x2" chunk twice in ONE doc: df counts DISTINCT docs, so it
    // stays (repetition is p29's business, not boilerplate's)
    val one = Seq((0L, "x1 x2 x1 x2")).toDF("doc_id", "text")
    val r = Dedup.stripBoilerplate(one, k = 2).collect()
    assert(r.head.getString(3) == "x1 x2 x1 x2")
    assert(r.head.getLong(2) == 0L)
  }

  // ---------------------------------------------------------------- classifierScore

  test("classifierScore computes the exact integer margin and keep flag") {
    // doc 0: nt=4 nu=4 ns=2 ("the","a") → 3*2+2*4-0+0(len<20)-10 = 4 → keep
    // doc 1: nt=4 nu=2 ns=0            → 0+4-2+0-10 = -8 → drop
    val d = Seq(
      (0L, "the a fox dog"),
      (1L, "w w v v"))
      .toDF("doc_id", "text")
    val r = TextStats.classifierScore(d, wStop = 3L, wUniq = 2L, wRep = 1L,
      lenBonus = 10L, lenLo = 20L, lenHi = 200L, bias = 10L)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
    assert(r(0) == ((0L, 4L, true)))
    assert(r(1) == ((1L, -8L, false)))
  }

  test("classifierScore length band pays the bonus exactly inside [lo, hi]") {
    def margin(n: Int): Long = {
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      TextStats.classifierScore(Seq((0L, text)).toDF("doc_id", "text"),
        wStop = 0L, wUniq = 0L, wRep = 0L,
        lenBonus = 7L, lenLo = 3L, lenHi = 4L, bias = 0L)
        .collect().head.getLong(1)
    }
    assert(margin(2) == 0L)
    assert(margin(3) == 7L)
    assert(margin(4) == 7L)
    assert(margin(5) == 0L)
  }

  test("classifierScore is a pure projection — no exchange in the plan") {
    val d = Seq((0L, "a b c")).toDF("doc_id", "text")
    val plan = TextStats.classifierScore(d, 1L, 1L, 1L, 1L, 1L, 2L, 0L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  // ---------------------------------------------------------------- bigramSurprise

  test("bigramSurprise scores transitions by exact integer conditional surprise") {
    // corpus bigram counts: "p q"=3, "q p"=1, "q r"=1
    // prefix totals: uni(p)=3, uni(q)=2
    // surprise(p→q) = (3·1000) div 3 = 1000 (the certain transition)
    // surprise(q→p) = surprise(q→r) = (2·1000) div 1 = 2000
    val d = Seq(
      (0L, "p q p q"),
      (1L, "p q r"),
      (2L, "solo")) // single token: no transitions, no row
      .toDF("doc_id", "text")
    val r = TextStats.bigramSurprise(d, scale = 1000L)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.length == 2)
    assert(r(0) == ((0L, 3L, 4000L, 4000.0 / 3)))
    assert(r(1) == ((1L, 2L, 3000L, 1500.0)))
  }

  test("bigramSurprise ranks a rare-transition doc above a stereotyped one") {
    // 20 docs looping the same two tokens + one doc with novel jumps:
    // the model learns the loop, so the oddball's transitions are rare
    val common = (0 until 20).map(i => (i.toLong, "u v u v u v"))
    val odd = Seq((99L, "u z v u"))
    val r = TextStats.bigramSurprise((common ++ odd).toDF("doc_id", "text"))
      .orderBy(org.apache.spark.sql.functions.desc("mean_surprise"))
      .collect()
    assert(r.head.getLong(0) == 99L)
  }

  // ---------------------------------------------------------------- importanceWeights

  test("importanceWeights: exact likelihood ratios, hard zero for " +
    "unseen-in-target transitions") {
    // corpus: bi_c(p q)=3, bi_c(q p)=1, bi_c(q r)=1, bi_c(r r)=1;
    //         u_c(p)=3, u_c(q)=2, u_c(r)=1
    // target (doc 0 only): bi_t(p q)=2, bi_t(q p)=1; u_t(p)=2, u_t(q)=1
    // r(p q) = (2·3·1000) div (3·2) = 1000   (corpus-typical)
    // r(q p) = (1·2·1000) div (1·1) = 2000   (target-favored)
    // r(q r) = r(r r) = 0                    (unseen in target)
    val corpus = Seq(
      (0L, "p q p q"),
      (1L, "p q r"),
      (2L, "r r"))
      .toDF("doc_id", "text")
    val target = corpus.where($"doc_id" === 0L)
    val r = TextStats.importanceWeights(corpus, target, scale = 1000L)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq == Seq(
      (0L, 3L, 4000L, 4000.0 / 3), // the target doc itself: target-like
      (1L, 2L, 1000L, 500.0),
      (2L, 1L, 0L, 0.0)))          // fully out-of-domain
  }

  // ---------------------------------------------------------------- perplexityBuckets

  test("perplexityBuckets: per-stratum equal-population tiers in " +
    "surprise order, parity with a window-rank reference") {
    // two langs, enough docs per lang for distinct tercile populations
    val docs = Seq(
      (0L, "a b a b a b", "en"), (1L, "a b a b c d", "en"),
      (2L, "c d e f g h", "en"), (3L, "a b a b a b a b", "en"),
      (4L, "e f e f e f", "en"), (5L, "g h i j k l", "en"),
      (6L, "m n m n m n", "fr"), (7L, "m n o p q r", "fr"),
      (8L, "s t u v w x", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextStats.perplexityBuckets(docs, Seq("lang"), 3)
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
        x.getLong(3), x.getLong(4), x.getString(5)))
      .sortBy(_._2)
    // reference: rank per lang over collected surprise means
    val sup = TextStats.bigramSurprise(docs).collect()
      .map(x => (x.getLong(0), x.getDouble(3))).toMap
    val lang = docs.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val exp = lang.groupBy(_._2).toSeq.flatMap { case (lg, m) =>
      val ordered = m.keys.toSeq.map(id => (sup(id), id)).sorted
      val n = ordered.length
      ordered.zipWithIndex.map { case ((mean, id), i) =>
        val bucket = (i.toLong * 3) / n
        val tier = if (bucket == 0) "head"
          else if (bucket == 2) "tail" else "middle"
        (lg, id, mean, i.toLong + 1, bucket, tier)
      }
    }.sortBy(_._2)
    assert(got.toSeq == exp)
    // the en tiers are populated 2/2/2: all three names appear
    assert(got.filter(_._1 == "en").map(_._6).distinct.sorted.toSeq ==
      Seq("head", "middle", "tail"))
  }

  // ---------------------------------------------------------------- lexicalTopK

  test("lexicalTopK ranks by rarity weight, breaks ties by doc_id, excludes self") {
    // corpus vocabulary dfs (over rel = query-vocab postings):
    //   "rare" in docs {1}        → df 1 → wt 100
    //   "mid"  in docs {2,3}      → df 2 → wt 50
    //   "com"  in docs {1,2,3,4}  → df 4 → wt 25
    val corpus = Seq(
      (1L, "rare com"),
      (2L, "mid com"),
      (3L, "mid com"),
      (4L, "com"))
      .toDF("doc_id", "text")
    val queries = Seq((1L, "rare com"), (9L, "mid")).toDF("query_id", "text")
    val r = Retrieval.lexicalTopK(corpus, queries, k = 2, scale = 100L)
      .orderBy("query_id", "rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // query 1: doc 1 is SELF (excluded); docs 2,3,4 share only "com"
    // (25 each) → tie broken by doc_id, k=2 cuts doc 4
    assert(r.filter(_._1 == 1L).toSeq ==
      Seq((1L, 1L, 2L, 25L), (1L, 2L, 3L, 25L)))
    // query 9: "mid" hits docs 2 and 3 at wt 50; docs 1/4 never surface
    assert(r.filter(_._1 == 9L).toSeq ==
      Seq((9L, 1L, 2L, 50L), (9L, 2L, 3L, 50L)))
  }

  test("bm25TopK: term-frequency saturation and length normalization, " +
    "integer-exact") {
    // saturation — equal lengths (dl = avgdl = 4 → dlr_e3 = 1000,
    // denominator 1000·tf + 1200), df(q) = 2 → wt 500000:
    //   doc 1 tf=4: (500000·4·2200) div 5200 = 846153
    //   doc 2 tf=1: (500000·1·2200) div 2200 = 500000
    // 4× the tf buys only 1.69× the score — the saturation BM25 adds
    // over lexicalTopK's flat distinct-token sum
    val c1 = Seq((1L, "q q q q"), (2L, "q x y z"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val q9 = Seq((9L, "q")).toDF("query_id", "text")
    val r1 = Retrieval.bm25TopK(c1, q9, k = 5)
      .orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r1.toSeq == Seq((1L, 1L, 846153L), (2L, 2L, 500000L)))
    // length normalization — equal tf, dl 2 vs 6 (avgdl 4):
    //   dlr_e3 500 → denom 1750 → 628571; dlr_e3 1500 → denom 2650
    //   → 415094: the shorter doc outranks at identical tf
    val c2 = Seq((1L, "q a"), (2L, "q a b c d e")).toDF("doc_id", "text")
    val r2 = Retrieval.bm25TopK(c2, q9, k = 5)
      .orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r2.toSeq == Seq((1L, 1L, 628571L), (2L, 2L, 415094L)))
  }

  test("lexicalTopK sums weights over DISTINCT shared tokens only") {
    val corpus = Seq(
      (1L, "w w w z"), // token multiplicity must not inflate the score
      (2L, "w z"))
      .toDF("doc_id", "text")
    val queries = Seq((7L, "w z w")).toDF("query_id", "text")
    val r = Retrieval.lexicalTopK(corpus, queries, k = 5, scale = 100L)
      .orderBy("rank").collect()
      .map(x => (x.getLong(2), x.getLong(3)))
    // df(w)=2 → 50, df(z)=2 → 50; both docs score exactly 100
    assert(r.toSeq == Seq((1L, 100L), (2L, 100L)))
  }

  test("lexicalTopK releases its postings cache after first materialization") {
    val corpus = Seq((1L, "a b"), (2L, "b c"), (3L, "c d"))
      .toDF("doc_id", "text")
    val queries = Seq((9L, "b c")).toDF("query_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Retrieval.lexicalTopK(corpus, queries, k = 2)
    assert(r.count() == 2)
    // the listener bus is async: poll until the cache drains
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty,
      s"postings cache still pinned after materialization: $leaked")
    // a second materialization recomputes and still answers correctly:
    // doc 2 shares both tokens (score 10^6), docs 1 and 3 tie at
    // 5·10^5 → doc_id asc keeps doc 1 at rank 2
    assert(r.orderBy("rank").collect().map(_.getLong(2)).toSeq == Seq(2L, 1L))
  }

  test("mineHardNegatives caches exactly one corpus projection for " +
    "either scorer, and releases it") {
    // one cached (doc_id, text) projection feeds every corpus reader:
    // bm25's three (postings, stats pass, candidate-text fetch) and
    // lexical's two — dropping it for lexical measured no win on p67
    val corpus = Seq(
      (10L, "alpha beta gamma delta"),
      (20L, "alpha unrelated words"),
      (21L, "beta other stuff"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "alpha beta gamma delta"))
      .toDF("query_id", "text")
    val cm = spark.sharedState.cacheManager
    val proj = corpus.select("doc_id", "text")
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    def cached = cm.lookupCachedData(proj).isDefined
    for (scorer <- Seq("lexical", "bm25")) {
      assert(!cached)
      val r = Retrieval.mineHardNegatives(corpus, queries, k = 2, nNeg = 1,
        scorer = scorer)
      // persist registers synchronously; the cache manager keeps one
      // entry per plan, so a hit is exactly one cached projection
      assert(cached, s"$scorer: corpus projection not cached")
      assert(r.count() == 1)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (cached && System.nanoTime() < deadline) Thread.sleep(100)
      assert(!cached, s"$scorer: corpus projection still pinned")
    }
  }

  test("mineHardNegatives drops near-duplicate positives, keeps and " +
    "re-ranks the true negatives, and releases both caches") {
    // doc 10 is the query; doc 11 is a shifted near-copy (token-set
    // Jaccard 5/6 ≥ 0.5 → POSITIVE, must not appear even though it
    // out-scores everything); docs 20/21 share one rare-ish token
    // each; doc 30 shares nothing
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "beta gamma delta epsilon zeta"),
      (20L, "alpha unrelated words here"),
      (21L, "beta other stuff entirely"),
      (30L, "nothing shared at all"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("query_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Retrieval.mineHardNegatives(corpus, queries, k = 4, nNeg = 2)
      .orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getLong(2)))
    // candidates by score: 11 (5 shared tokens) >> 20 (alpha, df 2 →
    // wt 500000) > 21 (beta, df 3 → wt 333333); 11 is gated out as a
    // positive → negatives re-rank from 1 as 20, 21
    assert(r.toSeq == Seq((1L, 20L), (2L, 21L)))
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"cache still pinned: $leaked")
  }

  test("mineHardNegatives' positive gate tokenizes like the scorers: " +
    "empty tokens from doubled separators do not dilute Jaccard") {
    // query "alpha " vs doc 1 "alpha beta": true Jaccard({alpha},
    // {alpha,beta}) = 1/2 ≥ tau → doc 1 is a POSITIVE and must be
    // gated out. Counting the trailing-space '' as a query token gave
    // |qs| = 2, union = 3, 1/3 < 1/2 — the near-duplicate leaked
    // through as a "hard negative"
    val corpus = Seq(
      (1L, "alpha beta"),
      (3L, "alpha delta epsilon gamma"), // j = 1/4 < 1/2 → true negative
      (9L, "zeta eta"))                  // shares nothing, never scores
      .toDF("doc_id", "text")
    val queries = Seq((10L, "alpha ")).toDF("query_id", "text")
    val r = Retrieval.mineHardNegatives(corpus, queries, k = 3, nNeg = 3)
      .collect().map(x => (x.getLong(0), x.getLong(2)))
    assert(r.toSeq == Seq((10L, 3L)), s"got ${r.toSeq}")
  }

  test("mineHardNegatives with the bm25 scorer: candidates come from " +
    "bm25TopK, the positive gate is scorer-agnostic") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "beta gamma delta epsilon zeta"),
      (20L, "alpha unrelated words here"),
      (21L, "beta other stuff entirely"),
      (30L, "nothing shared at all"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("query_id", "text")
    val r = Retrieval.mineHardNegatives(corpus, queries, k = 4, nNeg = 2,
        scorer = "bm25")
      .orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
    // the near-copy 11 is still gated out; the surviving negatives
    // carry EXACTLY the scores bm25TopK assigns them
    val bm25 = Retrieval.bm25TopK(corpus, queries, k = 4)
      .collect().map(x => x.getLong(2) -> x.getLong(3)).toMap
    assert(r.map(_._2).toSeq == Seq(20L, 21L).sortBy(d => (-bm25(d), d)))
    r.foreach { case (_, d, s) => assert(s == bm25(d)) }
    assert(!r.exists(_._2 == 11L))
    intercept[IllegalArgumentException] {
      Retrieval.mineHardNegatives(corpus, queries, scorer = "tfidf")
    }
  }

  test("lexicalTopK broadcasts queries and weights — corpus side never rebuilds") {
    val corpus = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val queries = Seq((9L, "b")).toDF("query_id", "text")
    val plan = Retrieval.lexicalTopK(corpus, queries)
      .queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length +
      "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 3, s"expected 3 broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  // ---------------------------------------------------------------- kmvDistinctTokens

  private def kmvHash(w: String): Long =
    graft.functions.PolyHash31.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("kmv:" + w))

  test("kmvDistinctTokens: under-full sketch is exact, h_k null") {
    val d = Seq((0L, "en", "a b c"), (1L, "en", "b c d"))
      .toDF("doc_id", "lang", "text")
    val r = TextStats.kmvDistinctTokens(d, Seq("lang"), k = 128).collect()
    assert(r.length == 1)
    val exact = Seq("a", "b", "c", "d").map(kmvHash).distinct.size
    assert(r.head.getLong(1) == exact.toLong)      // n_sketch
    assert(r.head.isNullAt(2))                     // h_k
    assert(r.head.getLong(3) == exact.toLong)      // est == exact
  }

  test("kmvDistinctTokens: full sketch estimates from the kth smallest " +
    "distinct hash; a hot token cannot flood the sketch") {
    val words = (0 until 40).map(i => s"w$i")
    val hot = ("hot " * 500).trim
    val d = Seq((0L, "en", words.take(20).mkString(" ") + " " + hot),
        (1L, "en", words.drop(20).mkString(" ") + " hot"))
      .toDF("doc_id", "lang", "text")
    val r = TextStats.kmvDistinctTokens(d, Seq("lang"), k = 4).collect()
    val hashes = (words :+ "hot").map(kmvHash).distinct.sorted
    val h4 = hashes(3)
    assert(r.length == 1)
    assert(r.head.getLong(1) == 4L)
    assert(r.head.getLong(2) == h4)
    assert(r.head.getLong(3) == 3L * 2147483647L / h4)
    // 500 repeats of "hot" counted once: same answer as one occurrence
    val once = Seq((0L, "en", (words :+ "hot").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val r2 = TextStats.kmvDistinctTokens(once, Seq("lang"), k = 4).collect()
    assert(r2.head.getLong(3) == r.head.getLong(3))
  }

  test("kmvDistinctTokens: merge across partitions equals one partition") {
    val d = (0 until 200).map(i => (i.toLong, s"l${i % 3}",
        s"tok${i} tok${i * 13 % 97} shared common"))
      .toDF("doc_id", "lang", "text")
    def run(parts: Int) =
      TextStats.kmvDistinctTokens(d.repartition(parts), Seq("lang"), k = 16)
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    assert(run(1) == run(8), "union-then-sketch must equal merged sketches")
  }

  // ---------------------------------------------------------------- hllDistinctTokens

  private def hllHash(w: String): Long = {
    var h = graft.functions.PolyHash31.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hll:" + w))
    h = (h * TextStats.HllMixC1) % TextStats.HashP31
    h = h ^ (h >> 15)
    h = (h * TextStats.HllMixC2) % TextStats.HashP31
    h ^ (h >> 13)
  }

  /** Reference registers for logM=6 (m=64, restBits=25, maxRank=26). */
  private def hllRef(words: Seq[String]): Array[Int] = {
    val regs = new Array[Int](64)
    words.foreach { w =>
      val h = hllHash(w)
      val j = (h % 64).toInt
      val rest = h / 64
      val r = if (rest == 0) 26
        else 26 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
      if (r > regs(j)) regs(j) = r
    }
    regs
  }

  test("hllDistinctTokens: registers match a hand-computed reference, " +
    "estimate is the exact integer form over them") {
    val words = (0 until 300).map(i => s"tok$i")
    val d = Seq((0L, "en", words.take(150).mkString(" ")),
        (1L, "en", words.drop(150).mkString(" ") + " tok0"))
      .toDF("doc_id", "lang", "text")
    val r = TextStats.hllDistinctTokens(d, Seq("lang")).collect()
    assert(r.length == 1)
    val ref = hllRef(words)
    assert(r.head.getString(2) == ref.mkString(","))        // regs
    assert(r.head.getLong(3) == ref.count(_ == 0).toLong)   // n_zero
    val denom = ref.map(x => 1L << (26 - x)).sum
    assert(r.head.getLong(4) == denom)
    assert(r.head.getLong(5) == 709L * 64 * 64 * (1L << 26) / denom)
    // sanity: the estimate lands within 30% of the true 300 distinct
    val est = r.head.getLong(5) / 1000.0
    assert(est > 210 && est < 390, s"HLL estimate off: $est vs 300")
  }

  test("hllDistinctTokens: merge-by-max — sketch(A ∪ B) is the " +
    "element-wise max of sketch(A) and sketch(B); partition-invariant") {
    val wa = (0 until 80).map(i => s"a$i")
    val wb = (0 until 80).map(i => s"b$i") ++ wa.take(20) // overlap
    def df(ws: Seq[String], id: Long) =
      Seq((id, "en", ws.mkString(" "))).toDF("doc_id", "lang", "text")
    def regs(d: org.apache.spark.sql.DataFrame): Array[Int] =
      TextStats.hllDistinctTokens(d, Seq("lang")).collect()
        .head.getString(2).split(",").map(_.toInt)
    val ra = regs(df(wa, 0L))
    val rb = regs(df(wb, 1L))
    val runion = regs(df(wa, 0L).union(df(wb, 1L)))
    assert(runion.toSeq == ra.zip(rb).map { case (x, y) => math.max(x, y) }.toSeq)
    // dup-blind: 500 repeats of one token change nothing
    val hot = df(wa :+ ("a0 " * 500).trim, 2L)
    assert(regs(hot).toSeq == ra.toSeq)
    // partition invariance
    val big = (0 until 100).map(i => (i.toLong, s"l${i % 2}",
      s"t$i u${i * 7 % 43} shared")).toDF("doc_id", "lang", "text")
    def run(p: Int) = TextStats.hllDistinctTokens(big.repartition(p),
      Seq("lang")).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(5))).toSeq
    assert(run(1) == run(8))
  }

  // ---------------------------------------------------------------- bpePairStats

  test("bpePairStats: adjacent char pairs weighted by word frequency, " +
    "in-word repeats counted, single-char words skipped") {
    // word freqs: "aab"×3, "ab"×2, "a"×4 → pairs: aa: 3, ab: 3+2 = 5
    val d = Seq((0L, "aab aab a a"), (1L, "aab ab ab a a"))
      .toDF("doc_id", "text")
    val r = TextStats.bpePairStats(d, k = 10).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r == Seq(("ab", 5L), ("aa", 3L)))
    // in-word repeats: "aaa" has TWO "aa" positions
    val d2 = Seq((0L, "aaa")).toDF("doc_id", "text")
    val r2 = TextStats.bpePairStats(d2, k = 10).collect()
    assert(r2.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("aa", 2L)))
  }

  test("bpePairStats: top-k cut with (count desc, pair asc) ties") {
    val d = Seq((0L, "xy xz xy xz yy")).toDF("doc_id", "text")
    val r = TextStats.bpePairStats(d, k = 2).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(r == Seq(("xy", 2L), ("xz", 2L))) // yy(1) cut; tie by pair
  }

  test("bpeTokenize: iterated merges learn (count desc, pair asc), the " +
    "carry fold merges odd self-runs leftmost-first, seg_head pins all") {
    // vocab: aaa×2, ab×2, aab×1
    // merge 1 pairs: (a,a) 2·2+1 = 5, (a,b) 2+1 = 3 → (a,a)→aa
    //   aaa→[aa,a] (leftmost-first: NOT [a,aa]), ab→[a,b], aab→[aa,b]
    // merge 2 pairs: (aa,a) 2, (a,b) 2, (aa,b) 1 → tie 2-2, 'a'<'aa'
    //   → (a,b)→ab: ab→[ab]; aab keeps [aa,b]
    val d = Seq((0L, "aaa ab aaa"), (1L, "ab aab")).toDF("doc_id", "text")
    val r = TextStats.bpeTokenize(d, numMerges = 2).orderBy("doc_id")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (0L, 8L, 5L, "aa a|ab|aa a"),
      (1L, 5L, 3L, "ab|aa b")))
    // non-alphanumeric symbols flow through as lit columns, no SQL
    // splicing: merges ("'", "x") then ("d", "'x") collapse each word
    val punct = Seq((0L, "d'x d'x d'x")).toDF("doc_id", "text")
    val rp = TextStats.bpeTokenize(punct, numMerges = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(rp.toSeq == Seq((0L, 9L, 3L, "d'x|d'x|d'x")))
  }

  test("histQuantileSketch: estimates lower-bound the exact quantiles " +
    "within one bin width, and the sketch is partition-invariant") {
    val rnd = new scala.util.Random(11)
    val docs = (0L until 400L).map { i =>
      val n = 1 + rnd.nextInt(500)
      (i, if (i % 2 == 0) "a" else "b", Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val est = TextStats.histQuantileSketch(docs, Seq("lang"), 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val exact = TextStats.tokenQuantiles(docs, Seq("lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    est.foreach { case (lang, (n, nBins, med, p90)) =>
      assert(n == 200L && nBins <= 9 * 8, "state bounded by octaves × B")
      val (exMed, exP90) = exact(lang)
      Seq((med, exMed), (p90, exP90)).foreach { case (lb, ex) =>
        assert(lb <= ex, s"$lang: bin lower bound $lb must not exceed $ex")
        val width = (1L << (63 - java.lang.Long.numberOfLeadingZeros(lb))) / 8
        assert(ex - lb <= width + 1, s"$lang: $ex - $lb exceeds bin width")
      }
    }
    def run(p: Int) = TextStats.histQuantileSketch(docs.repartition(p),
      Seq("lang"), 8).orderBy("lang").collect().toSeq
    assert(run(1) == run(8))
    // hand-checked binning: v=1 → bin 0 lb 1; v=15 → bin 31 lb 15;
    // v=16 → bin 32 lb 16 (octave boundary)
    val tiny = Seq((0L, "x", "w"),
      (1L, "y", Seq.fill(15)("w").mkString(" ")),
      (2L, "z", Seq.fill(16)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val m = TextStats.histQuantileSketch(tiny, Seq("lang"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m == Map("x" -> 1L, "y" -> 15L, "z" -> 16L))
  }

  // ---------------------------------------------------------------- countMinFreq

  private def cmsBucket(j: Int, w: String, width: Int): Long =
    graft.functions.PolyHash31.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"cms$j:" + w)
    ) % width

  /** Reference CM estimate: min over rows of the summed counts of all
    * tokens sharing the probe's bucket in that row. */
  private def cmsRef(counts: Map[String, Long], probe: String,
      depth: Int, width: Int): Long =
    (0 until depth).map { j =>
      val b = cmsBucket(j, probe, width)
      counts.collect {
        case (w, c) if cmsBucket(j, w, width) == b => c
      }.sum
    }.min

  test("countMinFreq: estimates match the reference sketch cell-for-cell " +
    "and never undercount, even at width 2") {
    val d = Seq(
      (0L, "en", "a b b c c c d"),
      (1L, "en", "a a e f g"),
      (2L, "en", "b h")).toDF("doc_id", "lang", "text")
    val counts = Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 1L,
      "e" -> 1L, "f" -> 1L, "g" -> 1L, "h" -> 1L)
    for (width <- Seq(2, 8, 1024)) {
      val probes = Seq("a", "c", "h", "nope")
      val r = TextStats.countMinFreq(d, Seq("lang"), probes,
        depth = 4, width = width).orderBy("tok").collect()
      assert(r.length == probes.length)
      r.foreach { row =>
        val tok = row.getString(1)
        val exact = counts.getOrElse(tok, 0L)
        assert(row.getLong(2) == cmsRef(counts, tok, 4, width),
          s"est($tok) at width $width")
        assert(row.getLong(3) == exact, s"exact($tok)")
        assert(row.getLong(4) == row.getLong(2) - exact
          && row.getLong(4) >= 0L, s"overcount($tok) must be >= 0")
      }
      // the sketch is one-sided by construction; at a generous width
      // the estimate collapses to the exact count
      if (width == 1024)
        r.foreach(row => assert(row.getLong(4) == 0L))
    }
  }

  test("countMinCells: cells merge by addition — partitioning never " +
    "changes a cell") {
    val d = (0 until 300).map(i => (i.toLong, s"l${i % 2}",
        s"tok${i % 50} tok${i % 7} shared")).toDF("doc_id", "lang", "text")
    def run(parts: Int) =
      TextStats.countMinCells(d.repartition(parts), Seq("lang"),
        depth = 3, width = 16)
        .orderBy("lang", "j", "bucket").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq
    assert(run(1) == run(7), "sum-of-sketches must equal union-then-sketch")
  }

  test("countMinCells: per-group state is bounded at depth x width " +
    "occupied cells no matter the vocabulary") {
    val d = (0 until 2000).map(i => (i.toLong, "en", s"u$i v$i w$i"))
      .toDF("doc_id", "lang", "text")
    val cells = TextStats.countMinCells(d, Seq("lang"),
      depth = 4, width = 32).collect()
    assert(cells.length <= 4 * 32)
    // 6000 token occurrences all land somewhere
    assert(cells.map(_.getLong(3)).sum == 6000L * 4)
  }
}
