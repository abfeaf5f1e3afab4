package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — the data-SELECTION primitive a
  * curation pipeline runs next to dedup: given a small set of query
  * documents (an eval benchmark to decontaminate against, a seed set
  * to up-sample toward), rank every corpus document by
  * rarity-weighted token overlap and keep the top-k per query.
  *
  * The score is an integer IDF surrogate: each token shared between a
  * query and a document contributes `scale div df(token)` (df = the
  * token's corpus document frequency among query-relevant tokens), so
  * rare shared tokens dominate — the BM25/TF-IDF ranking signal with
  * EXACT int64 arithmetic (a float idf log would make cross-engine
  * oracle comparison impossible; the floor-division weight preserves
  * the rarity ordering, which is what ranking consumes).
  *
  * Determinism: ties (common on small vocabularies) break by
  * ascending doc_id; the per-query result is a total order.
  */
object Retrieval {

  /** Distinct (query_id, w) query tokens; empty tokens from doubled
    * separators are dropped (both retrieval operators and their
    * oracles agree on this). */
  private def queryTokens(queries: DataFrame): DataFrame = queries
    .select(col("query_id"), explode(split(col("text"), " ")).as("w"))
    .where(length(col("w")) >= 1)
    .distinct()

  /** Rarity weights over a query-vocab-pruned postings frame whose
    * rows are distinct per (doc_id, w): `scale div df` — the integer
    * IDF surrogate both scorers share (floor division preserves the
    * rarity ORDERING, which is what ranking consumes; a float log idf
    * could never hash-compare). */
  private def rarityWeights(rel: DataFrame, scale: Long): DataFrame = rel
    .groupBy(col("w"))
    .agg(count(lit(1)).as("df"))
    .select(col("w"), expr(s"${scale}L div df").as("wt"))

  /** Per-query top-`k` of a (query_id, doc_id, score) frame on the
    * bounded [[TopK]] aggregate — O(k) state per query merged
    * map-side, never a row_number window that would sort every
    * candidate of a query inside one task. Ties break by ascending
    * doc_id. */
  private def topKByScore(scored: DataFrame, k: Int): DataFrame = scored
    .groupBy(col("query_id"))
    .agg(TopK.smallestK(k, -col("score"), col("doc_id")).as("top"))
    .select(col("query_id"), posexplode(col("top")))
    .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
      col("col._2").as("doc_id"), (-col("col._1")).as("score"))

  /** Top-`k` corpus docs per query by summed rarity weight of shared
    * DISTINCT tokens. `queries` needs (query_id, text); a query doc
    * drawn from the corpus never retrieves itself (query_id is
    * compared against doc_id).
    *
    * Scale shape — the corpus never shuffles on anything wider than
    * its token postings, and per-query state is bounded:
    *  - query tokens are BROADCAST (queries are small by contract —
    *    an eval suite, not a second corpus); the broadcast join cuts
    *    corpus postings to query-vocabulary rows before anything else
    *    happens, so df counting and scoring run over the pruned set;
    *  - df is ONE hash aggregate on the token, and its result (≤ the
    *    query vocabulary) is broadcast back — the corpus-side postings
    *    never re-shuffle for the weight lookup;
    *  - per-(query, doc) partial scores combine map-side into the one
    *    real exchange, keyed on (query_id, doc_id);
    *  - the final per-query ranking uses the bounded [[TopK]]
    *    aggregate — O(k) state per query, merged map-side — not a
    *    row_number window that would sort every candidate of a query
    *    inside one task.
    * On a real corpus the query⋈postings join is lexically sparse
    * (docs sharing no query token never surface); the dense worst
    * case is Q×docs candidate rows, inherent to exhaustive scoring —
    * bound Q per pass, not the corpus. */
  def lexicalTopK(corpus: DataFrame, queries: DataFrame,
      k: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(scale > 0, s"scale must be positive, got $scale")
    // qt persisted (r18): it feeds the vocabulary-prune broadcast AND
    // the scoring join — unpersisted, the queries frame was scanned,
    // exploded and distinct'd TWICE per invocation (and when queries
    // are a filtered slice of the corpus, each of those is a full
    // corpus-file scan — the r17 p67 plan showed the qt subtree
    // planned twice from parquet). The cached set is the distinct
    // query tokens — eval-suite-sized by contract, never the corpus.
    val qt = queryTokens(queries).persist()
    val result = lexicalTopKImpl(corpus, qt, k, scale)
    CacheLifecycle.unpersistAfterFirstUse(result, qt)
    result
  }

  /** [[lexicalTopK]] over ALREADY-PERSISTED query tokens — shared with
    * [[mineHardNegatives]], whose positive gate reuses the same qt
    * cache for its query token sets. */
  private def lexicalTopKImpl(corpus: DataFrame, qt: DataFrame,
      k: Int, scale: Long): DataFrame = {
    val vocab = broadcast(qt.select(col("w")).distinct())
    // postings restricted to the query vocabulary; df over THIS set
    // equals df over the corpus for every token that can ever score.
    // ORDER (r17 NOTE): aggregate-then-prune. Pruning below the
    // distinct is bit-identical (join∘distinct ≡ distinct∘join on the
    // distinct's own key) but pays a per-occurrence probe; on the
    // bench corpus, whose eval vocabulary covers every token, it
    // measured p72 1.27× slower.
    // Persisted: both the df aggregate (broadcast build side) and the
    // scoring join probe it — without the cache the corpus
    // explode+distinct runs TWICE per invocation, and at 100 TB that
    // doubles the dominant scan+shuffle. The cached set is bounded by
    // the query vocabulary's postings, not the corpus; released by the
    // one-shot listener as soon as the result materializes.
    val toks = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
    val rel = toks.distinct().join(vocab, Seq("w")).persist()
    // rel rows are distinct (doc_id, w), so count(*) IS the document
    // frequency — no second distinct aggregate
    val wt = rarityWeights(rel, scale)
    val scored = rel
      .join(broadcast(wt), Seq("w"))
      .join(broadcast(qt), Seq("w"))
      .where(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("wt")).as("score"))
    val result = topKByScore(scored, k)
    CacheLifecycle.unpersistAfterFirstUse(result, rel)
    result
  }

  /** BM25 top-`k` retrieval (Robertson et al.) — the canonical lexical
    * ranking [[lexicalTopK]]'s flat rarity weighting approximates:
    * per shared term, `idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with k1 = 1.2, b = 0.75 — term-frequency SATURATION (a term
    * repeated 50× scores ~like 5×, so keyword-stuffed docs stop
    * winning) and document-LENGTH normalization (long docs don't win
    * by surface area), the two signals the flat sum lacks.
    *
    * Integer-exact surrogate, multiplied through the rational
    * constants so both engines compute identical longs:
    *  - idf → `scale div df` (lexicalTopK's rarity surrogate — the
    *    floor division preserves the rarity ORDERING, which is what
    *    ranking consumes; a float log idf could never hash-compare);
    *  - relative length `dlr_e3 = (1000·dl) div avgdl` (milli-units),
    *    with `avgdl = Σdl div N` over TOKENIZED docs only (empty docs
    *    are outside the postings and must not dilute the average —
    *    and they guarantee avgdl ≥ 1). Dividing by the floored avgdl
    *    rather than computing `(1000·dl·N) div Σdl` keeps every
    *    intermediate ≤ 1000·dl — overflow-free at ANY corpus count,
    *    where the dl·N product would wrap past ~2·10¹⁰ docs — at the
    *    cost of ≤ 1/avgdl relative error in the length term;
    *  - contribution = `(wt·tf·2200) div (1000·tf + 300 +
    *    (9·dlr_e3) div 10)` — numerator ≤ scale·tf·2200 (no overflow
    *    for any realistic tf), denominator the BM25 denominator ×1000.
    *
    * Scale shape follows [[lexicalTopK]] (query vocab broadcast →
    * pruned postings persisted once → df one aggregate → partial
    * scores combine map-side into the (query_id, doc_id) exchange →
    * bounded [[TopK]]), with two BM25-specific additions that add no
    * shuffle: `dl` rides the postings from the pre-explode projection
    * (so no corpus-keyed length join), and the corpus constants
    * (N, Σdl) come from one column-pruned pass broadcast as a 1-row
    * frame — never a driver collect. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame,
      k: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(scale > 0, s"scale must be positive, got $scale")
    // qt persisted for the same two-reader reason as [[lexicalTopK]]
    val qt = queryTokens(queries).persist()
    // NOTE (r18, measured and REVERTED here, KEPT in
    // [[mineHardNegatives]]): persisting a (doc_id, text) corpus
    // projection across this operator's TWO corpus readers (postings
    // explode + the stats pass) benched p72 1.08× raw / ~1.15×
    // control-adjusted SLOWER at sf1 (flat at sf0.1) — a wide-string
    // cache scan materializes objects outside whole-stage codegen
    // while the re-scan it saves runs fused over the vectorized
    // parquet reader (the r14 p04 lesson). With mineHardNegatives'
    // THIRD reader (the candidate-text fetch) the same persist wins
    // big (p74 0.69×/0.79× at sf0.1/sf1), so the trade flips at three
    // full-corpus readers, not two.
    val result = bm25TopKImpl(corpus, qt, k, scale)
    CacheLifecycle.unpersistAfterFirstUse(result, qt)
    result
  }

  /** [[bm25TopK]] over ALREADY-PERSISTED query tokens (see
    * [[lexicalTopKImpl]]). */
  private def bm25TopKImpl(corpus: DataFrame, qt: DataFrame,
      k: Int, scale: Long): DataFrame = {
    val dlExpr = expr("size(filter(split(text, ' '), x -> length(x) >= 1))")
      .cast("long")
    // split ONCE per row: the filtered token array feeds both the
    // per-doc length and the explode — the previous shape evaluated
    // split(text) twice per corpus row (once in the Generate, once in
    // the dl projection), pure per-row waste on the dominant scan
    // (guide §1.2 step 2). explode(filter(...)) ≡ explode(...) +
    // length filter: empty tokens vanish either way, and dl is the
    // same filtered size.
    val ct = corpus
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) >= 1)").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("w"))
    // tokenized docs only: an all-separator doc has no postings and
    // must not dilute avgdl (the DuckDB oracle's per-doc length CTE
    // drops it the same way)
    val stats = corpus.select(dlExpr.as("dl"))
      .where(col("dl") >= 1)
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val vocab = broadcast(qt.select(col("w")).distinct())
    // aggregate-then-prune, as in [[lexicalTopKImpl]]
    val rel = ct.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      .join(vocab, Seq("w"))
      .persist()
    val wt = rarityWeights(rel, scale)
    val scored = rel
      .join(broadcast(wt), Seq("w"))
      .join(broadcast(qt), Seq("w"))
      .where(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .withColumn("dlr_e3", expr("(1000 * dl) div (sumdl div n)"))
      .withColumn("contrib", expr(
        "(wt * tf * 2200) div (1000 * tf + 300 + (9 * dlr_e3) div 10)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    val result = topKByScore(scored, k)
    CacheLifecycle.unpersistAfterFirstUse(result, rel)
    result
  }

  /** Hard-negative mining for retrieval/embedding training (the
    * DPR/contrastive-learning recipe): per query, retrieve the top-`k`
    * lexical candidates, DROP the ones that are actually positives —
    * near-duplicates of the query itself, detected by token-set
    * Jaccard ≥ `tauNum/tauDen` — and keep the best `nNeg` survivors as
    * negatives. A top-ranked candidate that is a shifted copy of the
    * query is precisely what must NOT become a negative (it would
    * teach the model to push a true match away); lexical rank alone
    * cannot see the difference, which is why the verify step exists.
    * Tune the threshold to the corpus: on a heavily templated corpus
    * 0.5 treats every template-mate as a positive and mines nothing.
    *
    * The Jaccard gate is integer-exact (`tauDen·|∩| <
    * tauNum·(|q|+|d|−|∩|)` ⟺ jaccard < tauNum/tauDen), so the oracle
    * replays it without float drift.
    *
    * Scale shape: [[lexicalTopK]] does the heavy lifting (its one real
    * exchange on (query_id, doc_id)); everything added here is
    * broadcast-sized — the candidate list is Q×k rows by construction,
    * so the candidate token sets (semi-joined out of the corpus), the
    * query token sets, and both gate joins ride broadcasts, and the
    * re-rank reuses the bounded [[TopK]] aggregate. The corpus is
    * touched once more only to fetch the ≤ Q×k candidate texts. */
  def mineHardNegatives(corpus: DataFrame, queries: DataFrame,
      k: Int = 8, nNeg: Int = 5, scale: Long = 1000000L,
      tauNum: Long = 1L, tauDen: Long = 2L,
      scorer: String = "lexical"): DataFrame = {
    require(nNeg > 0 && k >= nNeg,
      s"need k >= nNeg > 0, got k=$k nNeg=$nNeg")
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"positive threshold must be in (0, 1], got $tauNum/$tauDen")
    // validate BEFORE the persist below: throwing after it would leak
    // the qt cache entry on the error path
    require(scorer == "lexical" || scorer == "bm25",
      s"scorer must be lexical|bm25, got '$scorer'")
    // one persisted query-token frame shared by the scorer (vocab
    // prune + scoring join) AND the gate's query token sets below —
    // before r18 the queries frame was scanned and tokenized THREE
    // times per call (twice inside the scorer, once for qset), each a
    // full corpus-file pass when queries are a filtered corpus slice
    val qt = queryTokens(queries).persist()
    // corpus persisted (r18): the mining chain reads the corpus once
    // or twice inside the scorer (postings; + the BM25 stats pass) and
    // ONCE MORE for the candidate-text fetch (`dset`) — each a full
    // parquet scan + upstream union/transform. One cached (doc_id,
    // text) projection feeds every leg; released after the result's
    // first materialization.
    // NOTE (measured, kept for BOTH scorers): skipping this cache for
    // the lexical scorer's two readers did not win on p67 at sf0.1 —
    // interleaved in one JVM on a 4-core host, 10 order-alternated
    // pairs, medians 2.38 s direct / 2.40 s cached at local[4] and
    // 4.97 s / 4.52 s at local[32] (cached faster in 10 of 10 pairs);
    // each direct re-read repeats the upstream round-robin text shuffle.
    val proj = corpus.select(col("doc_id"), col("text"))
    val c = proj.persist(CacheLifecycle.textStorageLevel(proj))
    // Q×k rows, referenced three times below (candidate rows, the
    // semi-join key set, the gate) — persist so retrieval runs once.
    // `scorer` picks the retrieval stage: "lexical" (flat rarity sum)
    // or "bm25" — the DPR-standard combo is BM25 candidates + a
    // positive gate; everything downstream is scorer-agnostic.
    val cand = (if (scorer == "lexical") lexicalTopKImpl(c, qt, k, scale)
      else bm25TopKImpl(c, qt, k, scale)).persist()
    // the SAME tokenizer as the scorers: empty tokens from doubled
    // separators are dropped — counting '' as a gate token inflates
    // both set sizes, deflating Jaccard, so a near-duplicate positive
    // could sneak under tau and be trained on as a hard negative
    val nonEmptyTokens = array_distinct(
      expr("filter(split(text, ' '), x -> length(x) >= 1)"))
    // query token SETS from the persisted qt, not a third scan of the
    // queries frame: qt rows are exactly the distinct non-empty tokens
    // per query, and the gate only consumes the set's SIZE and its
    // intersection with ds — both order-independent, so collect_list
    // order never reaches the result. A token-free query has no qt
    // rows and thus no qset row, but it has no postings either, so it
    // cannot appear in cand and the inner gate join drops nothing.
    val qset = qt.groupBy(col("query_id"))
      .agg(collect_list(col("w")).as("qs"))
    val dset = c
      .join(broadcast(cand.select(col("doc_id")).distinct()), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), nonEmptyTokens.as("ds"))
    val negatives = cand
      .join(broadcast(qset), Seq("query_id"))
      .join(broadcast(dset), Seq("doc_id"))
      .withColumn("ni", size(array_intersect(col("qs"), col("ds"))).cast("long"))
      .where(lit(tauDen) * col("ni") < lit(tauNum) *
        (size(col("qs")).cast("long") + size(col("ds")) - col("ni")))
    val result = negatives
      .groupBy(col("query_id"))
      .agg(TopK.smallestK(nNeg, -col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), (-col("col._1")).as("score"))
    CacheLifecycle.unpersistAfterFirstUse(result, cand)
    CacheLifecycle.unpersistAfterFirstUse(result, qt)
    CacheLifecycle.unpersistAfterFirstUse(result, c)
    result
  }
}
