package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-pipeline extension: corpus
  * stats, per-document quality signals, and a marker-word language-ID
  * heuristic.
  *
  * All ratios are a single IEEE division of exact integer counts —
  * engine-deterministic, no rounding needed for oracle parity.
  */
object TextStats {

  /** Per-language corpus stats: doc/char/token totals and source
    * breadth. One hash aggregate; token counts derive from the split
    * length, so the text itself is never shuffled. */
  def perLanguage(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        countDistinct(col("source")).as("n_sources"),
        (sum(col("n_chars")).cast("double") / sum(col("n_tokens")))
          .as("chars_per_token"))

  /** KMV (k-minimum-values) distinct-token sketch per stratum cell:
    * the bounded-state answer to "how many distinct tokens does each
    * (lang, source) hold" that an exact `countDistinct` cannot give
    * at corpus scale — exact distinct shuffles every distinct token
    * string to its group's reducer (the shuffle IS the vocabulary,
    * tens of GB per cell at 100 TB), while the sketch's per-group
    * state is k longs, map-side combined, mergeable across
    * partitions, days, or corpora by construction (Bar-Yossef et
    * al.'s counting-distinct-elements bound; union-then-sketch ≡
    * merge-of-sketches, pinned in the spec).
    *
    * Determinism is the whole design: tokens hash through the shared
    * `poly_hash31` (domain M = 2³¹−1), the sketch keeps the k
    * smallest DISTINCT hashes ([[TopK.smallestKDistinct]]), and the
    * estimate is the standard unbiased (k−1)/U₍ₖ₎ evaluated in exact
    * integer form `(k−1)·M div h_k` — so a DuckDB window-rank replica
    * reproduces every cell bit-for-bit, sketch contents included.
    * Cells with fewer than k distinct hashes are EXACT (the sketch
    * holds the whole hashed vocabulary; `h_k` is null). Hash
    * collisions under-count exactly identically in both engines.
    * One explode + one aggregate, so it runs under Structured
    * Streaming as-is: the k-smallest buffer becomes per-group state,
    * merged per micro-batch as the batch aggregate merges per
    * partition — stream-over-prefix ≡ batch-over-prefix at every
    * micro-batch (StreamOpsSpec; emit in `complete`/`update` mode).
    * Output: groupCols, n_sketch, h_k, est_distinct. */
  def kmvDistinctTokens(docs: DataFrame, groupCols: Seq[String],
      k: Int = 128, salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k") // k=1 could div by h=0
    graft.functions.PolyHash31.register(docs.sparkSession)
    val m = 2147483647L
    val hashed = docs
      .select(groupCols.map(col) :+
        explode(split(col("text"), " ")).as("w"): _*)
      .select(groupCols.map(col) :+
        call_function("poly_hash31",
          concat(lit(salt + ":"), col("w"))).as("h"): _*)
    hashed.groupBy(groupCols.map(col): _*)
      .agg(TopK.smallestKDistinct(k, col("h")).as("sk"))
      .select(groupCols.map(col) ++ Seq(
        size(col("sk")).cast("long").as("n_sketch"),
        when(size(col("sk")) === k, element_at(col("sk"), k))
          .as("h_k"),
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(s"${(k - 1).toLong * m} div element_at(sk, $k)"))
          .as("est_distinct")): _*)
  }

  /** BPE first-merge pair statistics — the inner loop of byte-pair-
    * encoding TOKENIZER TRAINING (Sennrich et al. 2016): the frequency
    * of every adjacent symbol pair, weighted by word frequency; the
    * top pair is the first merge a BPE trainer would perform. Symbols
    * here are characters (merge iteration 0), so an adjacent pair is
    * exactly a 2-char substring at each position.
    *
    * Scale shape — the same trick real BPE trainers use: the corpus
    * collapses to a WORD-FREQUENCY table first (one hash aggregate,
    * vocabulary-sized), and the per-position pair explosion runs over
    * the distinct vocabulary only — at 100 TB the corpus is scanned
    * once and the expensive positional work is bounded by |vocab| ×
    * word length, orders of magnitude below the token stream. The
    * final top-k is a distributed TakeOrderedAndProject, never a
    * single-task sort. Determinism: counts are exact longs; ties
    * break lexicographically on the pair. */
  def bpePairStats(docs: DataFrame, k: Int = 20): DataFrame = {
    val wf = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    wf.where(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** One left-to-right BPE merge pass of `(x, y) → xy` over the
    * string-array column `sym` — a carry fold: walk the symbols,
    * and whenever the last accumulated symbol is `x` and the next is
    * `y`, rewrite the last to `xy` (the merged symbol can never
    * immediately re-merge, since `xy ≠ x`). This is the exact pass a
    * reference BPE tokenizer performs per merge, and its DuckDB
    * mirror is the same fold via `list_reduce` — NOT a padded-string
    * `replace`, which diverges on odd runs of a self-pair (`aaa`
    * under `(a,a)` merges positions (1,2) by fold but (1,2)+(4,5) by
    * non-overlapping string search).
    *
    * The merge pair enters as `lit` columns, never spliced into a SQL
    * string — any alphabet (apostrophes, hyphens, non-ASCII) is safe
    * with no escaping layer. */
  private def bpeMergePass(x: String, y: String): Column = {
    val sym = col("sym")
    when(size(sym) < 2, sym).otherwise(
      aggregate(
        slice(sym, lit(2), size(sym) - 1),
        array(element_at(sym, 1)),
        (acc, e) =>
          when(element_at(acc, -1) === lit(x) && e === lit(y),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
            .otherwise(concat(acc, array(e)))))
  }

  /** Adjacent-pair frequency over a segmented vocab (`f`, `sym`),
    * weighted by word frequency — the argmax row is the next merge. */
  private def bpeTopPair(seg: DataFrame): Array[org.apache.spark.sql.Row] =
    seg.where(size(col("sym")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, size(sym) - 1), i -> " +
          "struct(element_at(sym, int(i)) AS x, " +
          "element_at(sym, int(i) + 1) AS y))")).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
      .limit(1).collect()

  /** Full BPE tokenizer, TRAIN + APPLY (Sennrich et al. 2016) — the
    * iterated closure of [[bpePairStats]] (which is exactly merge 0's
    * statistics): learn `numMerges` merges over the corpus, then
    * re-tokenize every document with them.
    *
    * Training scale shape (the standard trainer trick): the corpus
    * collapses to its word-frequency table ONCE (one hash aggregate,
    * vocabulary-sized, persisted), and each merge iteration touches
    * only that vocab — pair counts are one aggregate + a driver
    * collect of a single argmax row (ties: count desc, then pair
    * lexicographic, matching the oracle), so `numMerges` iterations
    * never rescan the corpus.
    *
    * Application reuses the segmentation the trainer already computed
    * for every vocab word: tokens BROADCAST-join the segmented vocab
    * (a broadcast probe has no shuffle, so hot tokens cannot skew it —
    * a skew hazard exists only for a SHUFFLE vocab join, which this
    * never plans), leaving the doc_id regroup of integer sizes as the
    * only shuffle. Past `broadcastVocabMax` distinct words the apply
    * falls back to per-ROW re-derivation through the merge chain
    * (`numMerges` carry folds — no join at all, constant memory,
    * ~10× more CPU per token: measured in StressSpec, which also pins
    * the two paths' bit-equality). The trainer's vocab cache is
    * released after the result's first materialization
    * ([[CacheLifecycle]]) on the join path, eagerly on the fold path.
    *
    * Returns per doc: `n_sym0` (pre-merge symbol count = chars),
    * `n_bpe` (post-merge token count), and `seg_head` — the full
    * segmentation of the first three words (`sym sym|sym …`), which
    * pins every learned merge and its application order in the hash
    * compare. */
  def bpeTokenize(docs: DataFrame, numMerges: Int,
      broadcastVocabMax: Long = 1000000L): DataFrame = {
    require(numMerges >= 1)
    // empty tokens (doubled separators) are dropped, not segmented:
    // Spark's split('', '') yields [''] while DuckDB's yields [] — the
    // one token shape whose symbol count the two engines disagree on
    val wf = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("sym", split(col("w"), ""))
      .persist()
    val merges = scala.collection.mutable.Buffer.empty[(String, String)]
    var seg = wf
    var exhausted = false
    (1 to numMerges).foreach { _ =>
      if (!exhausted) {
        val top = bpeTopPair(seg)
        if (top.isEmpty) exhausted = true
        else {
          val (x, y) = (top(0).getString(0), top(0).getString(1))
          merges += ((x, y))
          seg = seg.withColumn("sym", bpeMergePass(x, y))
        }
      }
    }
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .where(length(col("w")) >= 1)
    val useBroadcast = wf.count() <= broadcastVocabMax
    val applied =
      if (useBroadcast)
        tok.join(broadcast(seg.select(col("w"), col("sym"))), Seq("w"))
      else merges.foldLeft(tok.withColumn("sym", split(col("w"), ""))) {
        case (df, (x, y)) => df.withColumn("sym", bpeMergePass(x, y))
      }
    // SORT-AGGREGATE NOTE (r17, measured): the seg_head string maxes
    // make this a SortAggregate over the applied token stream. A
    // split-aggregate rewrite (numeric sums as HashAggregate + the
    // string maxes over only the pos ≤ 2 rows, sharing one persisted
    // thin projection) was tried and REVERTED: the token-level cache
    // write plus the extra doc-level join cost more than the removed
    // long-keyed sort — same-window sf1 A/B read p70 1.3× SLOWER.
    val out = applied
      .groupBy(col("doc_id")).agg(
        sum(length(col("w"))).as("n_sym0"),
        sum(size(col("sym"))).as("n_bpe"),
        // degenerate case: a doc whose first three word slots are all
        // absent yields '' here (concat_ws skips nulls); the oracle's
        // string_agg is NULL there and coalesces to '' to agree
        concat_ws("|", (0 until 3).map(k =>
          max(when(col("pos") === k, array_join(col("sym"), " ")))): _*)
          .as("seg_head"))
    if (useBroadcast) CacheLifecycle.unpersistAfterFirstUse(out, wf)
    else wf.unpersist()
    out
  }

  /** Stopword set used by the quality score and its oracle. */
  val Stopwords: Seq[String] = Seq("the", "a")

  /** [[hllDistinctTokens]] finalizer constants, shared with its oracle
    * SQL and spec reference — change all together. Odd 31-bit
    * multipliers; the modulus is the poly-hash Mersenne prime. */
  val HashP31 = 2147483647L
  val HllMixC1 = 1540483507L
  val HllMixC2 = 1203793907L

  /** Per-document quality signals: token counts, type/token ratio,
    * stopword ratio, mean word length (chars minus separators over
    * tokens). Mirrors common pretraining-corpus quality filters
    * (length, repetition, stopword density). */
  def quality(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    docs.select(
      col("doc_id"), col("lang"),
      col("n_chars"),
      size(ws).cast("long").as("n_tokens"),
      size(array_distinct(ws)).cast("long").as("n_uniq"),
      expr(s"cast(size(filter(split(text, ' '), w -> w in ($stopList))) as bigint)")
        .as("n_stop"))
      .withColumn("uniq_ratio", col("n_uniq").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("mean_word_len",
        (col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
  }

  /** Linear quality CLASSIFIER inference — the decision step that
    * [[quality]] only feeds: an integer-margin linear model over
    * per-doc features (stopword count, distinct-token count, repeated
    * tokens, an in-length-band indicator), the shape of the
    * fastText-style quality filters pretraining pipelines run over
    * every candidate document (weights trained offline; here they
    * arrive as plain parameters). The margin is EXACT int64
    * arithmetic — no float dot product — so keep/drop decisions are
    * reproducible bit-for-bit across engines, and the classifier can
    * be audited: `margin` says how far from the boundary each doc
    * sits.
    *
    * keep = margin >= 0 with
    * margin = wStop·n_stop + wUniq·n_uniq − wRep·(n_tokens − n_uniq)
    *          + lenBonus·[lenLo ≤ n_tokens ≤ lenHi] − bias.
    *
    * Scale shape: a pure per-row projection — zero shuffles, zero
    * joins, whole-stage codegen end to end. Scoring 100 TB costs one
    * scan; the weights are plan-time constants (a trained model with
    * millions of hashed-ngram weights would instead broadcast its
    * weight vector — the [[graft.functions.ArgmaxDot]] broadcast
    * pattern — but a handful of engineered features belongs inline). */
  def classifierScore(docs: DataFrame, wStop: Long, wUniq: Long,
      wRep: Long, lenBonus: Long, lenLo: Long, lenHi: Long,
      bias: Long, carry: Seq[String] = Nil): DataFrame = {
    val ws = split(col("text"), " ")
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    docs.select(col("doc_id") +: carry.map(col) :+
      size(ws).cast("long").as("nt") :+
      size(array_distinct(ws)).cast("long").as("nu") :+
      expr(s"cast(size(filter(split(text, ' '), w -> w in ($stopList))) as bigint)")
        .as("ns"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        (lit(wStop) * col("ns") + lit(wUniq) * col("nu")
          - lit(wRep) * (col("nt") - col("nu"))
          + when(col("nt").between(lenLo, lenHi), lenBonus).otherwise(0L)
          - lit(bias)).as("margin"): _*)
      .withColumn("keep", col("margin") >= 0)
  }

  /** Per-document repetition signals — the mode-based filters of the
    * Gopher/C4 family that [[quality]]'s distinct-ratio misses: the
    * fraction of tokens taken by the single most frequent word, and of
    * bigrams by the most frequent bigram (a doc looping one phrase has
    * high top-fractions at a normal type/token ratio).
    *
    * Everything is IN-ROW: the max multiplicity is the longest equal
    * run of the doc's sorted token array, computed by one `aggregate`
    * HOF over a struct accumulator — no explode, no (doc, word)
    * shuffle, no vocabulary; a 100 TB corpus pays one codegen'd
    * projection. Fractions are one IEEE division of exact counts. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    def maxRun(arr: String) =
      s"""aggregate(sort_array($arr),
         |  named_struct('prev', '', 'run', 0L, 'best', 0L),
         |  (a, x) -> named_struct(
         |    'prev', x,
         |    'run', IF(x = a.prev, a.run + 1L, 1L),
         |    'best', GREATEST(a.best, IF(x = a.prev, a.run + 1L, 1L))),
         |  a -> a.best)""".stripMargin
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      // bigrams of a 1-token doc: empty, not sequence(1, 0) (which
      // Spark evaluates DESCENDING as [1, 0])
      .withColumn("bg", expr(
        """IF(size(ts) < 2, array(),
          |  transform(sequence(1, size(ts) - 1),
          |    i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1))))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        expr(maxRun("ts")).as("top_word"),
        expr(maxRun("bg")).as("top_bigram"))
      .select(col("doc_id"), col("n_tok"), col("top_word"),
        col("top_bigram"),
        (col("top_word").cast("double") / col("n_tok"))
          .as("top_word_frac"),
        when(col("n_tok") >= 2,
          col("top_bigram").cast("double") / (col("n_tok") - 1L))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Token accounting per doc: whitespace tokens plus a BPE-ish
    * subword estimate — Σ ceil(len(word)/4) — approximating a ~4
    * chars/token subword tokenizer without a vocabulary (the shape a
    * token-budget accounting job needs; swap the arithmetic for a real
    * BPE via mapPartitions when the tokenizer ships). Integer-exact,
    * so directly oracle-able. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("n_chars"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      expr("""cast(aggregate(split(text, ' '), 0,
        |(acc, w) -> acc + cast((length(w) + 3) div 4 as int))
        |as bigint)""".stripMargin).as("n_subwords"))

  /** Default PII patterns for [[scrub]]. Kept to constructs whose
    * semantics agree between Java regex (Spark) and RE2 (DuckDB):
    * character classes + greedy quantifiers, no backtracking-dependent
    * alternation, no lookaround (RE2 has none). */
  val EmailPattern = "[a-z0-9.]+@[a-z0-9.]+"
  val PhonePattern = "[0-9]{3}-[0-9]+"

  /** Normalization + PII scrub: collapse whitespace runs, trim, redact
    * email-/phone-shaped spans, and account for what was redacted —
    * the lineage record a compliance pass needs (how many spans, how
    * much text survived, a digest to dedup/verify the scrubbed form).
    * One narrow projection per row: no shuffle, no UDF — `regexp_*`
    * are codegen'd expressions, so the scrub rides whole-stage codegen
    * across a 100 TB scan. */
  def scrub(docs: DataFrame,
      emailPattern: String = EmailPattern,
      phonePattern: String = PhonePattern): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailPattern)).cast("long")
        .as("n_emails"),
      regexp_count(col("text"), lit(phonePattern)).cast("long")
        .as("n_phones"),
      trim(regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>"),
        " +", " ")).as("clean"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("clean")).cast("long").as("clean_chars"),
        sha2(col("clean"), 256).as("fp"))

  /** Top-`k` tokens per stratum by count (ties broken alphabetically).
    * The count is one hash aggregate on (stratum, token); the top-k is
    * the bounded [[TopK]] aggregator over (−count, token) pairs — per
    * group state never exceeds k, merging map-side — NOT a rank window,
    * which would sort every stratum's whole vocabulary in one task per
    * stratum (few strata = a handful of giant sort tasks; the round-1
    * lesson behind [[TopK]]). */
  def topTerms(docs: DataFrame, strataCols: Seq[String], k: Int): DataFrame = {
    val tok = docs.select(
      strataCols.map(col) :+ explode(split(col("text"), " ")).as("w"): _*)
    val cnt = tok.groupBy(strataCols.map(col) :+ col("w"): _*)
      .agg(count(lit(1)).as("cnt"))
    cnt.groupBy(strataCols.map(col): _*)
      .agg(TopK.smallestKStr(k, -col("cnt"), col("w")).as("ks"))
      .select(strataCols.map(col) :+
        posexplode(col("ks")).as(Seq("i", "p")): _*)
      .select(strataCols.map(col) :+
        (col("i") + 1).cast("long").as("rn") :+
        col("p._2").as("w") :+ (-col("p._1")).as("cnt"): _*)
  }

  /** Per-doc TF-IDF top-`k` terms — the keyword-extraction /
    * quality-signal staple. The idf is INTEGER-EXACT:
    * `score = tf · ((N·10⁶) div df)` — monotone in the usual tf·log
    * ranking for fixed tf, and bit-reproducible in any engine (a
    * float `ln` is NOT: libm implementations differ in the last ulp).
    *
    * Scale shape: one postings aggregate (doc, term, tf), one df
    * aggregate over it, one term-keyed equi-join postings⋈df SALTED
    * against Zipf heads ([[saltedFreqJoin]] — a stop-word-grade term
    * lands in most docs and nothing generic splits that join),
    * corpus size via one broadcast single-row aggregate,
    * and the per-doc top-k on the bounded [[TopK]] aggregator — no
    * per-doc rank window ever sorts the full postings. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    // persisted: the tf postings feed BOTH the df aggregate (the
    // salted join's dim side) and the join probe — unpersisted, the
    // corpus scan+explode+tf aggregate ran TWICE per materialization
    // (visible as two identical Scan→Generate→HashAggregate subtrees
    // in the r17 before-plan). Thin postings (two longs + a token),
    // the measured-good persist shape (p51 pattern); released by the
    // one-shot listener at first materialization.
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .persist()
    val dfT = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val result = saltedFreqJoin(tf, dfT, "w", "df")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("(n_docs * 1000000L) div df"))
      .groupBy(col("doc_id"))
      .agg(TopK.smallestKStr(k, -col("score"), col("w")).as("ks"))
      .select(col("doc_id"), posexplode(col("ks")).as(Seq("i", "p")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("rn"),
        col("p._2").as("w"), (-col("p._1")).as("score"))
    CacheLifecycle.unpersistAfterFirstUse(result, tf)
    result
  }

  /** The p33/p37 postings⋈frequency join, Zipf-proofed. A stop-word
    * lands in a constant fraction of all docs, so its probe rows are a
    * constant fraction of the postings — and no generic mechanism
    * splits that here: the frequency side reuses its own aggregate's
    * hash partitioning (exchange elided), and AQE's skew split only
    * rewrites joins whose BOTH sides are ENSURE_REQUIREMENTS shuffles.
    * [[SkewOps.hotSaltedJoin]] salts the probe on `doc_id`
    * (deterministic — retries repartition identically) over
    * `spark.sql.shuffle.partitions` buckets, GATED on observed
    * frequency: only keys holding more than half a reducer's share get
    * salted (the freq side's own count column is exactly the per-key
    * probe-row count, so the gate costs one scalar aggregate, not a
    * corpus pass). A hot token spreads across every reducer while a
    * skew-free corpus pays ≈ nothing — the round-8 measured 1.25–2.65×
    * flat insurance of unconditional salting is gone (both priced in
    * StressSpec). Value-identical to `probe.join(freq, key)`; per-task
    * balance under an 80%-hot token is listener-measured in
    * StressSpec. */
  private def saltedFreqJoin(probe: DataFrame, freq: DataFrame,
      key: String, weightCol: String): DataFrame =
    SkewOps.hotSaltedJoin(probe, freq, key, "doc_id",
      SkewOps.defaultBuckets(probe), weightCol)

  /** Per-doc RARE-TOKEN rate against the corpus vocabulary: the
    * fraction of a doc's token occurrences whose corpus-wide frequency
    * falls below `minCount` — the integer-exact stand-in for an LM
    * perplexity filter (gibberish, OCR noise and mojibake score high
    * because their tokens barely recur anywhere; a real LM's float
    * `log` never hash-matches across engines, this does).
    *
    * Scale shape: one postings projection feeds BOTH the corpus
    * frequency aggregate and the per-doc join probe; the join is a
    * token-keyed equi-join SALTED against Zipf heads (see
    * [[saltedFreqJoin]] — a stop-word lands in 80% of docs, and
    * nothing generic splits that here). The rare SET is never
    * collected or broadcast: at corpus scale the rare tail IS most of
    * the vocabulary, so it must stay distributed. */
  def rareTokenStats(docs: DataFrame, minCount: Long = 3L): DataFrame = {
    // persisted: the token postings feed the corpus frequency
    // aggregate AND the join probe — the same double-scan the other
    // r17 persists remove; thin (long, token) rows, released after
    // the result's first materialization
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
      .persist()
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val result = saltedFreqJoin(toks, freq, "tok", "freq")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("freq") < minCount, 1L).otherwise(0L)).as("n_rare"))
      // exact integer counts, one IEEE division — engine-deterministic
      .withColumn("rare_frac",
        col("n_rare").cast("double") / col("n_tok"))
    CacheLifecycle.unpersistAfterFirstUse(result, toks)
    result
  }

  /** Exact per-stratum token-count quantiles (median + p90, "lower"
    * interpolation: the value at 1-based rank ⌊(n−1)·q⌋+1 in (value,
    * …) order). NOT a per-stratum sort: token counts are small
    * integers, so the distribution is a (stratum, value) histogram —
    * one hash aggregate over the corpus — and the quantile is read off
    * the histogram's running sum (a window over the TINY histogram,
    * thousands of rows, not the corpus). The scalable shape for exact
    * quantiles of any low-cardinality measure. */
  def tokenQuantiles(docs: DataFrame, strataCols: Seq[String]): DataFrame = {
    val t = docs.select(strataCols.map(col) :+
      size(split(col("text"), " ")).cast("long").as("v"): _*)
    val hist = t.groupBy(strataCols.map(col) :+ col("v"): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val n = t.groupBy(strataCols.map(col): _*).agg(count(lit(1)).as("n"))
    cum.join(broadcast(n), strataCols)
      .groupBy(strataCols.map(col) :+ col("n"): _*)
      .agg(
        min(when(col("cum") >= expr("(n - 1) div 2 + 1"), col("v")))
          .as("median_tokens"),
        min(when(col("cum") >= expr("((n - 1) * 9) div 10 + 1"), col("v")))
          .as("p90_tokens"))
  }

  /** Log-binned histogram QUANTILE SKETCH per stratum — the
    * bounded-state sibling of [[tokenQuantiles]], completing the
    * sketch family (KMV distinct, HLL, Count-Min frequency — this is
    * quantiles): [[tokenQuantiles]]'s histogram keys the shuffle by
    * every DISTINCT value (unbounded for byte lengths or score
    * columns at corpus scale), while this bins values into
    * `binsPerOctave` sub-bins per power of two — ≤ 64·B bins total
    * for any long column, state mergeable by ADDITION across
    * partitions/days/corpora, guaranteed relative error ≤ 1/B + ulp
    * (the bin containing the true rank-quantile is reported by its
    * lower bound).
    *
    * Everything is integer-exact and oracle-reproducible: the octave
    * is `length(bin(v)) - 1` — the binary-string length, avoiding
    * float `log2` whose cross-engine rounding at exact powers of two
    * is not guaranteed — and bin bounds use only shifts and floor
    * division. Same rank rule as [[tokenQuantiles]]
    * (`cum ≥ (n−1) div 2 + 1`), so the two operators answer the same
    * question at their two state budgets.
    *
    * Returns per stratum: n, n_bins (sketch state actually used),
    * median_est, p90_est. */
  def histQuantileSketch(docs: DataFrame, strataCols: Seq[String],
      binsPerOctave: Int = 8): DataFrame =
    histQuantiles(histBins(docs, strataCols, binsPerOctave), strataCols,
      binsPerOctave)

  /** The sketch STATE of [[histQuantileSketch]]: per-stratum log-bin
    * counts — one hash aggregate whose per-group state is ≤ 64·B
    * counters, mergeable by addition. Runs under Structured Streaming
    * as-is (stream-over-prefix ≡ batch-over-prefix at every
    * micro-batch, StreamOpsSpec); [[histQuantiles]] is the batch
    * finisher either way. */
  def histBins(docs: DataFrame, strataCols: Seq[String],
      binsPerOctave: Int): DataFrame = {
    require(binsPerOctave >= 1)
    val b = binsPerOctave
    docs.select(strataCols.map(col) :+
      size(split(col("text"), " ")).cast("long").as("v"): _*)
      .where(col("v") >= 1)
      .withColumn("o", expr("length(bin(v)) - 1").cast("long"))
      .withColumn("bin", col("o") * b + expr(
        s"((v - shiftleft(1L, int(o))) * $b) div shiftleft(1L, int(o))"))
      .groupBy(strataCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile extraction over a [[histBins]] frame (batch side — a
    * per-stratum cumulative sum over ≤ 64·B bins). Totals come from a
    * full-partition window over the SAME frame, not a self-join: one
    * pass, and the finisher works over any source including a
    * streaming memory sink (a self-join on a MemoryPlan view trips
    * Spark's attribute dedup). */
  def histQuantiles(hist: DataFrame, strataCols: Seq[String],
      binsPerOctave: Int): DataFrame = {
    val b = binsPerOctave
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
    hist.withColumn("cum", sum(col("cnt")).over(w))
      // lower bound of the bin: 2^o + (r·2^o) div B
      .withColumn("lb", expr(
        s"shiftleft(1L, int(bin div $b)) + " +
          s"((bin % $b) * shiftleft(1L, int(bin div $b))) div $b"))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("n_bins", count(lit(1)).over(wAll))
      .groupBy(strataCols.map(col) :+ col("n") :+ col("n_bins"): _*)
      .agg(
        min(when(col("cum") >= expr("(n - 1) div 2 + 1"), col("lb")))
          .as("median_est"),
        min(when(col("cum") >= expr("((n - 1) * 9) div 10 + 1"), col("lb")))
          .as("p90_est"))
  }

  /** Bigram novelty per doc: of a doc's distinct bigrams, how many
    * appear in NO other document (corpus document-frequency 1) — an
    * integer-exact repetition/quality signal (boilerplate-heavy docs
    * score low; a probabilistic LM perplexity would need transcendental
    * math that never hash-matches across engines, this does).
    *
    * Shapes: per-doc distinct bigram-id sets in-row (no vocabulary,
    * [[TextOps.shingleIdSets]]); `n_bigrams` is the in-row set size
    * (no shuffle at all); the unique count needs ONE postings
    * aggregate — for a df=1 bigram, `min(doc_id)` IS its owning doc,
    * so the df aggregate directly yields (owner, 1) rows and a tiny
    * per-doc count, with no join back onto the postings (the
    * join-back formulation re-shuffles the whole postings table to
    * tag each row with its df — measured 2× the work for the same
    * numbers). Hash collisions merge bigrams identically in both
    * engines (content-derived ids). */
  def bigramNovelty(docs: DataFrame): DataFrame = {
    graft.functions.PolyHash31.register(docs.sparkSession)
    // consumed by both the per-doc counts and the postings explode;
    // released after the result's first materialization
    val ds = TextOps.shingleIdSets(docs, 2).persist()
    val nb = ds.select(col("doc_id"),
      size(col("tids")).cast("long").as("n_bigrams"))
    val uniq = ds.select(explode(col("tids")).as("tid"), col("doc_id"))
      .groupBy(col("tid"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .where(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    val result = nb.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_bigrams"))
    CacheLifecycle.unpersistAfterFirstUse(result, ds)
    result
  }

  /** Bigram OCCURRENCES (doc_id, w1, b): one row per token transition
    * (duplicates kept — these are LM counts, not shingle sets), b =
    * the content-derived `poly_hash31` of "w1 w2". One in-row array
    * transform; docs with < 2 tokens emit nothing. */
  private def bigramOccurrences(docs: DataFrame): DataFrame = {
    graft.functions.PolyHash31.register(docs.sparkSession)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> struct(element_at(ws, i) AS w1,
          |    poly_hash31(concat(element_at(ws, i), ' ',
          |      element_at(ws, i + 1))) AS b))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.b").as("b"))
  }

  /** Bigram model table (b, bi, w1, u): per bigram id its occurrence
    * count and its prefix's total as-a-prefix count — p(w2|w1) =
    * bi/u exactly. Colliding bigram ids merge counts and inherit the
    * min prefix, identically in both engines. The prefix totals
    * re-aggregate the COUNT TABLE (bigram-vocabulary-sized), not the
    * corpus; the counts⋈prefix join is salted against Zipf prefixes,
    * gated on `_nb` — the distinct-bigram count per prefix, which IS
    * the probe-row count of this join (computed in the same prefix
    * aggregate, zero extra passes). */
  private def bigramModel(bo: DataFrame, buckets: Int): DataFrame = {
    // SORT-AGGREGATE NOTE (r17, measured): `min` over a STRING has no
    // mutable aggregation buffer, so this groupBy(b) plans as a
    // SortAggregate that per-partition-sorts the bigram stream. A
    // two-level rewrite (count per (b, w1) HashAggregate first, string
    // min over the vocab-sized table) was tried and REVERTED: the
    // removed sort is a cheap long-keyed sort of thin rows, while the
    // rewrite added a second exchange and a string grouping key —
    // same-window sf1 A/B read p45 1.3×, p48 1.4× SLOWER. The sort
    // spills gracefully at scale; leave it.
    val cnt = bo.groupBy(col("b"))
      .agg(count(lit(1)).as("bi"), min(col("w1")).as("w1"))
    val uni = cnt.groupBy(col("w1"))
      .agg(sum(col("bi")).as("u"), count(lit(1)).as("_nb"))
    SkewOps.hotSaltedJoin(cnt, uni, "w1", "b", buckets, "_nb").drop("_nb")
  }

  /** Bigram-LM surprise scoring — the CCNet-family perplexity filter:
    * train a bigram model ON the corpus (one pass), then score every
    * document by its average conditional surprise; docs whose token
    * transitions the corpus model finds improbable (gibberish, boiler
    * word-salad, wrong-language fragments) score high and get culled.
    *
    * The surprise is an INTEGER surrogate for −log p(w2|w1): per
    * bigram occurrence, `(uni(w1) · scale) div bi(w1,w2)` — exactly
    * `scale / p(w2|w1)` floored, so the per-transition ordering of the
    * true negative log-likelihood is preserved (x ↦ log x is
    * monotone) and the whole pipeline stays bit-reproducible in any
    * engine; a float `ln` would differ in the last ulp across libm
    * implementations and make hash-comparison impossible. `uni(w1)` is
    * w1's occurrence count AS A PREFIX, derived from the bigram count
    * table itself (Σ_w2 bi(w1,w2)) — no second corpus aggregate, and
    * p(·|w1) sums to exactly 1 over the observed transitions.
    *
    * Scale shape: bigram occurrences (doc_id, w1, b) come from one
    * in-row array transform; counts are ONE hash aggregate on the
    * content-derived bigram id (collisions merge identically in both
    * engines and inherit the min prefix — the [[Dedup.simhash]]
    * measure-zero fuzz argument); the prefix totals re-aggregate the
    * COUNT TABLE (bigram-vocabulary-sized), not the corpus, and both
    * Zipf-prone joins are salted — counts⋈prefix on w1 ("the"-prefixed
    * bigrams are a constant fraction of the vocabulary) and
    * postings⋈counts on b ("of the" is a constant fraction of all
    * postings, the [[saltedFreqJoin]] argument exactly).
    *
    * `scale` bounds: `uni · scale` must fit int64 — at corpora past
    * ~9·10¹² occurrences of one token, lower `scale`; the ordering is
    * unaffected. Docs with < 2 tokens have no transitions and emit no
    * row (the [[TextOps.shingleIdSets]] contract). */
  def bigramSurprise(docs: DataFrame, scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val buckets = SkewOps.defaultBuckets(docs)
    // persisted: the bigram-occurrence projection feeds the probe side
    // AND (twice, via cnt → uni) the model build — unpersisted it ran
    // 3× per materialization, each a full corpus scan + in-row bigram
    // hash (the dominant per-row work of this operator). Thin rows
    // (doc_id, w1, b); released after the result's first
    // materialization — registered on the RESULT frame, not the model,
    // so the gate's plan-time job cannot fire it early.
    val bo = bigramOccurrences(docs).persist()
    val cntU = bigramModel(bo, buckets).select(col("b"), col("bi"), col("u"))
    // gated on bi — a bigram's occurrence count is exactly its
    // probe-row count in this postings⋈model join
    val result = SkewOps.hotSaltedJoin(
        bo.select(col("doc_id"), col("b")), cntU, "b",
        "doc_id", buckets, "bi")
      .select(col("doc_id"),
        expr(s"(u * ${scale}L) div bi").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("surprise_sum"))
      .withColumn("mean_surprise",
        col("surprise_sum").cast("double") / col("n_bigrams"))
    graft.operators.CacheLifecycle.unpersistAfterFirstUse(result, bo)
    result
  }

  /** Estimated target-input bytes up to which [[importanceWeights]]
    * broadcasts the target model — far under Spark's 8 GB broadcast
    * cap, with room for the driver to build it. */
  val BroadcastModelMaxBytes: Long = 256L << 20

  /** DSIR-style importance weighting for domain-TARGETED selection:
    * score every corpus document by how much more likely a TARGET
    * domain's bigram model finds its transitions than the corpus's
    * own model — the importance-resampling signal used to up-sample
    * "looks like the target domain" data out of a web-scale corpus
    * (target = a small in-domain sample: a benchmark's train split, a
    * curated reference corpus).
    *
    * Per bigram occurrence the INTEGER likelihood-ratio surrogate
    * `(bi_t · u_c · scale) div (bi_c · u_t)` = `scale ·
    * p_target(w2|w1) / p_corpus(w2|w1)` floored; a transition the
    * target model has never seen contributes 0 (the hard-zero
    * no-smoothing choice — documented, reproducible, and
    * conservative: unseen-in-target evidence never inflates a score).
    * The per-doc output is the transition count, the ratio SUM, and
    * their one-IEEE-division mean — rank by `mean_ratio` (≈ `scale`
    * means corpus-typical, higher means target-like). Summed ratios
    * are a heuristic aggregate of the per-transition ordering (the
    * true DSIR statistic sums LOG ratios; a float log is not
    * oracle-able — the per-transition ordering is identical, the
    * aggregation differs, and the scaladoc says so honestly).
    *
    * Scale shape: both models are [[bigramModel]] count tables; the
    * model⋈model join is on the bigram id over VOCABULARY-sized
    * frames; the corpus postings meet the merged stats table in ONE
    * salted join ([[bigramSurprise]]'s exact shape, same Zipf
    * argument). `bi_t·u_c·scale` must fit int64 — bound scale when
    * target-count × corpus-prefix-count approaches 9·10¹⁸/scale. */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val buckets = SkewOps.defaultBuckets(corpus)
    // persisted for the same 3×-recompute reason as [[bigramSurprise]]
    // (probe + cnt + uni legs all re-derive the corpus bigram
    // projection); the small `target` side stays unpersisted — its two
    // model legs re-scan only the in-domain sample
    val bo = bigramOccurrences(corpus).persist()
    val mC = bigramModel(bo, buckets)
      .select(col("b"), col("bi").as("bi_c"), col("u").as("u_c"))
    val mT = bigramModel(bigramOccurrences(target), buckets)
      .select(col("b"), col("bi").as("bi_t"), col("u").as("u_t"))
    // vocab-sized ⋈ TARGET-vocab-sized on the bigram id; unseen-in-
    // target bigrams keep NULL bi_t/u_t and score 0 below. bi_c rides
    // along as the skew gate's weight: the corpus-side occurrence
    // count is exactly this join's probe-row count per bigram id.
    // The target model is BROADCAST (r17): the operator's contract is
    // target ≪ corpus (an in-domain sample — a benchmark train split),
    // so its bigram model is broadcast-sized by construction, and the
    // unhinted join planned a SortMergeJoin that sorted+shuffled the
    // full corpus model for it (visible in the r17 before-plan).
    // SIZE-GATED (r18, ADVICE): a caller passing a non-small target
    // would hit the 8 GB broadcast cap / driver OOM where the old
    // shuffled join handled any size — fall back to the unhinted join
    // when the target INPUT's estimated bytes exceed
    // [[BroadcastModelMaxBytes]] (the model aggregate is never larger
    // than its input). Results are identical either way; only the join
    // strategy moves.
    val tBytes = target.queryExecution.optimizedPlan.stats.sizeInBytes
    val mTSide =
      if (tBytes <= BroadcastModelMaxBytes) broadcast(mT) else mT
    val stats = mC.join(mTSide, Seq("b"), "left")
      .select(col("b"), col("bi_c"),
        coalesce(expr(s"(bi_t * u_c * ${scale}L) div (bi_c * u_t)"),
          lit(0L)).as("r"))
    val result = SkewOps.hotSaltedJoin(
        bo.select(col("doc_id"), col("b")), stats, "b",
        "doc_id", buckets, "bi_c")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("r")).as("ratio_sum"))
      .withColumn("mean_ratio",
        col("ratio_sum").cast("double") / col("n_bigrams"))
    graft.operators.CacheLifecycle.unpersistAfterFirstUse(result, bo)
    result
  }

  /** CCNet-style perplexity bucketing: split each language's corpus
    * into `nBuckets` equal-population tiers by LM score — the
    * published pipeline keeps/weights the `head` (most fluent) tier
    * and drops or downsamples the `tail`. The LM score is
    * [[bigramSurprise]]'s integer-exact surrogate (mean bigram
    * surprise ≈ perplexity up to monotone transform, so the RANKING —
    * all bucketing needs — is the published one in spirit while
    * staying hash-reproducible).
    *
    * Per stratum the doc's rank comes from [[Sampling.runningSum]]
    * with a constant-1 summand — the two-pass distributed rank, NOT a
    * `row_number` window (a one-language corpus, the common case,
    * would serialize through a single sort task). The order key is
    * (mean_surprise, doc_id): the mean is ONE IEEE division of exact
    * integers so every engine agrees on it bit-for-bit, and doc_id
    * totalizes ties. `bucket = (rank−1)·nBuckets div n_stratum`
    * (exact integer; populations differ by ≤ 1), `tier` names the
    * CCNet split. Docs with < 2 tokens have no LM evidence and emit
    * no row ([[bigramSurprise]]'s contract).
    *
    * Scale: one corpus-sized doc_id equi-join (surprise ⋈ strata
    * columns), the range-repartition rank, and a broadcast of the
    * per-stratum counts (one row per stratum). */
  def perplexityBuckets(docs: DataFrame, strataCols: Seq[String] = Seq("lang"),
      nBuckets: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val base = bigramSurprise(docs, scale)
      .join(docs.select(col("doc_id") +: strataCols.map(col): _*),
        Seq("doc_id"))
      .withColumn("one", lit(1L))
    val ranked = Sampling.runningSum(base, strataCols,
        Seq("mean_surprise", "doc_id"), "one")
      .withColumnRenamed("cum", "rank")
    val sizes = ranked.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_stratum"))
    ranked.join(broadcast(sizes), strataCols)
      .withColumn("bucket", expr(s"((rank - 1) * $nBuckets) div n_stratum"))
      .withColumn("tier",
        when(col("bucket") === 0, "head")
          .when(col("bucket") === nBuckets - 1, "tail")
          .otherwise("middle"))
      .select(strataCols.map(col) ++ Seq(col("doc_id"),
        col("mean_surprise"), col("rank"), col("bucket"),
        col("tier")): _*)
  }

  /** Marker vocabularies for the language-ID heuristic. The synthetic
    * corpus shares one vocabulary across languages, so accuracy is
    * meaningless by construction — the operator exercised here is the
    * real shape (per-class marker counting + deterministic argmax),
    * with markers over the corpus vocabulary so scores actually vary. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("join", "merge", "sort"),
    "en" -> Seq("table", "row", "scan"),
    "es" -> Seq("hash", "key", "value"),
    "fr" -> Seq("group", "window", "filter"),
    "zh" -> Seq("spark", "stream", "batch"))

  private def markerCount(markers: Seq[String]): Column = {
    val list = markers.map(w => s"'$w'").mkString(", ")
    expr(s"cast(size(filter(split(text, ' '), w -> w in ($list))) as bigint)")
  }

  /** Language guess per doc: argmax of marker counts, ties broken by
    * language-code order (the CASE chain encodes the tie-break; the
    * oracle uses the identical chain). */
  def langGuess: Column = {
    val s = LangMarkers.map { case (l, m) => l -> markerCount(m) }.toMap
    when(s("de") >= s("en") && s("de") >= s("es") && s("de") >= s("fr")
      && s("de") >= s("zh"), "de")
      .when(s("en") >= s("es") && s("en") >= s("fr") && s("en") >= s("zh"), "en")
      .when(s("es") >= s("fr") && s("es") >= s("zh"), "es")
      .when(s("fr") >= s("zh"), "fr")
      .otherwise("zh")
  }

  /** Confusion matrix of actual lang vs heuristic guess. */
  def langConfusion(docs: DataFrame): DataFrame =
    docs.select(col("lang"), langGuess.as("guess"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))

  /** COUNT-MIN sketch cells per stratum — the bounded-state token
    * FREQUENCY sibling of [[kmvDistinctTokens]]'s distinct counter
    * (Cormode & Muthukrishnan's CM sketch): `depth` hash rows ×
    * `width` buckets of plain occurrence sums. An exact per-token
    * frequency table shuffles the whole vocabulary (the p33/p37 freq
    * join needed salting for exactly that reason); the sketch's state
    * is depth×width longs per group NO MATTER the vocabulary — the
    * map-side partial aggregate is bounded at depth×width×groups
    * counters per task, and cells merge by ADDITION, so
    * union-then-sketch ≡ sum-of-sketches across partitions, days, or
    * corpora (pinned in the spec; the same mergeability that lets the
    * KMV sketch run as streaming state).
    *
    * Determinism is total, not just statistical: cell counts are sums
    * of exact occurrence counts routed by the shared `poly_hash31`
    * (row j's hash is salted `"cms<j>:" ++ token`), independent of
    * partitioning and merge order — a DuckDB replica reproduces every
    * cell bit-for-bit, not merely the estimates. Output: groupCols,
    * j (hash row), bucket, cnt — only OCCUPIED cells are emitted
    * (absent cells are zero by construction; readers coalesce). */
  def countMinCells(docs: DataFrame, groupCols: Seq[String],
      depth: Int = 4, width: Int = 32, salt: String = "cms"): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    graft.functions.PolyHash31.register(docs.sparkSession)
    val jb = array((0 until depth).map { j =>
      struct(lit(j).as("j"),
        pmod(call_function("poly_hash31",
          concat(lit(s"$salt$j:"), col("w"))), lit(width.toLong)).as("bucket"))
    }: _*)
    docs
      .select(groupCols.map(col) :+
        explode(split(col("text"), " ")).as("w"): _*)
      .select(groupCols.map(col) :+ explode(jb).as("jb"): _*)
      .select(groupCols.map(col) ++ Seq(col("jb.j").as("j"),
        col("jb.bucket").as("bucket")): _*)
      .groupBy(groupCols.map(col) ++ Seq(col("j"), col("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** HyperLogLog register sketch per stratum — the industry-standard
    * distinct counter (Flajolet et al. 2007), completing the sketch
    * family: [[kmvDistinctTokens]] keeps k hash VALUES and merges by
    * sorted-union; HLL keeps 2^logM fixed REGISTERS (max leading-zero
    * rank per bucket) and merges by element-wise MAX — O(m) state per
    * group regardless of vocabulary, and the merge algebra
    * (idempotent, commutative max) is what lets sketches from
    * different days / corpora / engines combine with no double-count,
    * where KMV merge needs the re-sort.
    *
    * Fully deterministic, not just statistical: tokens hash through
    * the shared `poly_hash31`, then through an xor-shift-multiply
    * FINALIZER (two rounds of ·C mod 2³¹−1 then x ^= x>>s — the
    * Murmur-finalizer shape with Mersenne-prime multiplies, so every
    * product stays < 2⁶² and is ANSI-overflow-safe in both engines).
    * The finalizer is load-bearing: poly_hash31 is a ROLLING hash —
    * sequential tokens give near-consecutive values, which KMV's
    * order statistics tolerate but which collapse leading-zero ranks
    * (measured: 2.5× undercount without mixing, and salting two
    * "independent" poly hashes does NOT help — same-length tokens
    * differ by a constant). After mixing: bucket = z mod m, rank =
    * leading zeros of the remaining 31−logM bits + 1, computed as
    * `restBits + 1 − bitlen(z div m)` — `bin()` has identical
    * minimal-string semantics in Spark and DuckDB, so a SQL replica
    * reproduces every register bit-for-bit. The estimate's raw form
    * αₘ·m²/Σ2^(−rⱼ) is evaluated exactly: the denominator is the
    * integer `denom = Σ 2^(S−rⱼ)` (S = max rank, so every term is a
    * whole number ≤ 2^(S−1) and the sum fits a long), and
    * `est_e3 = (αₘ·10³)·m²·2^S div denom` is one exact integer
    * division — milli-unit precision, zero float ops. No
    * small/large-range correction is folded in (that would need a
    * float ln); `n_zero` is emitted so callers can apply linear
    * counting where it matters — and [[kmvDistinctTokens]] is already
    * EXACT below k distinct, covering the small-cell regime. Raw-HLL
    * mid-range bias (the regime HLL++ corrects) applies; measured on
    * this hash: within ±17% from 300 to 100k distinct at m=64.
    *
    * Output: groupCols, m, regs (comma-joined register vector in
    * bucket order — the sketch itself, so parity checks pin contents,
    * not just the estimate), n_zero, denom, est_e3. */
  def hllDistinctTokens(docs: DataFrame, groupCols: Seq[String],
      logM: Int = 6, alphaE3: Long = 709, salt: String = "hll"): DataFrame = {
    require(logM >= 2 && logM <= 12, s"logM must be in [2,12], got $logM")
    graft.functions.PolyHash31.register(docs.sparkSession)
    val m = 1 << logM
    val restBits = 31 - logM // poly_hash31 domain is [0, 2^31-1)
    val maxRank = restBits + 1
    val hashed = docs
      .select(groupCols.map(col) :+
        explode(split(col("text"), " ")).as("w"): _*)
      .select(groupCols.map(col) :+
        call_function("poly_hash31",
          concat(lit(salt + ":"), col("w"))).as("h"): _*)
      .withColumn("h", (col("h") * lit(HllMixC1)) % lit(HashP31))
      .withColumn("h", expr("h ^ (h div 32768)"))
      .withColumn("h", (col("h") * lit(HllMixC2)) % lit(HashP31))
      .withColumn("h", expr("h ^ (h div 8192)"))
    val ranked = hashed.select(groupCols.map(col) ++ Seq(
      (col("h") % m).cast("int").as("j"),
      when(expr(s"h div $m") === 0, lit(maxRank))
        .otherwise(lit(maxRank) - length(bin(expr(s"h div $m"))))
        .cast("int").as("r")): _*)
    // ONE aggregate via the register-max buffer — O(m) map-side state,
    // one exchange (a groupBy-j + regroup pair would pay two), and the
    // single-aggregate plan is what lets the SAME operator run under
    // Structured Streaming (multiple streaming aggregations are
    // unsupported; StreamOpsSpec runs it on a stream)
    ranked
      .groupBy(groupCols.map(col): _*)
      .agg(TopK.registerMax(m, col("j"), col("r")).as("ra"))
      .select(groupCols.map(col) ++ Seq(
        lit(m.toLong).as("m"),
        array_join(col("ra"), ",").as("regs"),
        expr("cast(size(filter(ra, r -> r = 0)) as bigint)").as("n_zero"),
        expr(s"aggregate(ra, 0L, (acc, r) -> acc + shiftleft(1L, $maxRank - r))")
          .as("denom")): _*)
      .withColumn("est_e3",
        expr(s"(${alphaE3 * m.toLong * m} * shiftleft(1L, $maxRank)) div denom"))
  }

  /** Point-query the CM sketch for a probe token list: est(tok) =
    * min over the depth rows of that token's cell count — the classic
    * one-sided estimate (est ≥ exact ALWAYS; overcount comes only
    * from colliding tokens sharing all of a row's bucket). The audit
    * columns (`exact_freq`, `overcount`) re-count the probe tokens
    * exactly — cheap here because the exact aggregate is FILTERED to
    * the probes before grouping; a production caller at 100 TB reads
    * `est_freq` alone and skips that scan. The probe side is
    * groups×|probes|×depth rows built from literals, and the sketch
    * side arrives pre-aggregated (depth×width×groups rows) through a
    * broadcast — the corpus is scanned once per aggregate and never
    * joined row-to-row. Output: groupCols, tok, est_freq, exact_freq,
    * overcount (≥ 0, pinned in the spec). */
  def countMinFreq(docs: DataFrame, groupCols: Seq[String],
      probes: Seq[String], depth: Int = 4, width: Int = 32,
      salt: String = "cms"): DataFrame = {
    require(probes.nonEmpty, "probe token list must be non-empty")
    val spark = docs.sparkSession
    graft.functions.PolyHash31.register(spark)
    val cells = countMinCells(docs, groupCols, depth, width, salt)
    val probeDf = spark.range(1)
      .select(explode(array(probes.map(lit): _*)).as("tok"))
    val jb = array((0 until depth).map { j =>
      struct(lit(j).as("j"),
        pmod(call_function("poly_hash31",
          concat(lit(s"$salt$j:"), col("tok"))), lit(width.toLong)).as("bucket"))
    }: _*)
    val probed = docs.select(groupCols.map(col): _*).distinct()
      .crossJoin(broadcast(probeDf))
      .select(groupCols.map(col) ++ Seq(col("tok"),
        explode(jb).as("jb")): _*)
      .select(groupCols.map(col) ++ Seq(col("tok"),
        col("jb.j").as("j"), col("jb.bucket").as("bucket")): _*)
    val est = probed
      .join(broadcast(cells), groupCols ++ Seq("j", "bucket"), "left")
      .groupBy(groupCols.map(col) :+ col("tok"): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_freq"))
    val exact = docs
      .select(groupCols.map(col) :+
        explode(split(col("text"), " ")).as("tok"): _*)
      .where(col("tok").isin(probes: _*))
      .groupBy(groupCols.map(col) :+ col("tok"): _*)
      .agg(count(lit(1)).as("exact_freq"))
    est.join(exact, groupCols :+ "tok", "left")
      .select(groupCols.map(col) ++ Seq(col("tok"), col("est_freq"),
        coalesce(col("exact_freq"), lit(0L)).as("exact_freq"),
        (col("est_freq") - coalesce(col("exact_freq"), lit(0L)))
          .as("overcount")): _*)
  }
}
