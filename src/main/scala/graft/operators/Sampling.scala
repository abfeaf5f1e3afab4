package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / packing operators for
  * training-data assembly (the step after dedup and quality filtering:
  * decide WHICH docs go into WHICH split/mix, and how they pack into
  * fixed-token-budget shards).
  *
  * Everything keys off a content-derived pseudo-random integer
  * ([[graft.functions.PolyHash31]] over a salted rendering of the doc
  * id) rather than an engine RNG: the assignment is reproducible across
  * engines (the DuckDB oracle computes the identical hash), across
  * runs, and across cluster sizes — the property a training-data
  * lineage audit actually needs. No `rand()`, no seed-per-partition
  * trap, no resampling drift when the corpus is re-partitioned.
  */
object Sampling {

  /** Salted split hash: poly_hash31("<salt>:<doc_id>") — uniform-ish in
    * [0, 2^31-1), reproducible in DuckDB via the ascii() recurrence. */
  def splitHash(salt: String, idCol: Column): Column =
    call_function("poly_hash31",
      concat(lit(salt + ":"), idCol.cast("string")))

  /** Train/val/test assignment by hash percentile: bucket = h mod 100,
    * train < `trainPct` ≤ val < `trainPct`+`valPct` ≤ test. A pure
    * per-row projection — no shuffle, no coordination, stable under
    * corpus growth (a doc's split never changes when others arrive). */
  def assignSplits(docs: DataFrame, salt: String = "split",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    graft.functions.PolyHash31.register(docs.sparkSession)
    val h = splitHash(salt, col("doc_id"))
    docs.withColumn("h_split", h)
      .withColumn("bucket", col("h_split") % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Per-stratum quota sample: the `k` docs with the smallest
    * (split-hash, doc_id) per stratum — a deterministic "random k" that
    * any engine reproduces. Runs on the bounded [[TopK]] aggregator:
    * per-group state never exceeds k pairs and merges map-side, so a
    * 100 TB stratum costs one hash aggregate — NOT a per-stratum window
    * sort (rank-over-window sorts every stratum in full; with few
    * strata that is a handful of giant single-key sort tasks). Output:
    * one row per kept doc with its within-stratum rank `rn` (1-based,
    * hash order). */
  def quotaSample(docs: DataFrame, strataCols: Seq[String], k: Int,
      salt: String = "quota"): DataFrame = {
    graft.functions.PolyHash31.register(docs.sparkSession)
    val h = splitHash(salt, col("doc_id"))
    docs.select(strataCols.map(col) :+ h.as("h_quota") :+ col("doc_id"): _*)
      .groupBy(strataCols.map(col): _*)
      .agg(TopK.smallestK(k, col("h_quota"), col("doc_id")).as("ks"))
      .select(strataCols.map(col) :+
        posexplode(col("ks")).as(Seq("i", "p")): _*)
      .select(strataCols.map(col) :+
        (col("i") + 1).cast("long").as("rn") :+
        col("p._2").as("doc_id") :+ col("p._1").as("h_quota"): _*)
  }

  /** Domain token-share CAPS — the RefinedWeb/Dolma-family source
    * balancing rule, token-budget flavor: no domain (source, site,
    * crawl) may contribute more than `shareNum/shareDen` of the
    * corpus's TOKENS. Within each domain, docs are walked in
    * deterministic hash priority ((split-hash, doc_id) — a
    * reproducible "random" order, so the kept set is not biased
    * toward crawl order) and kept while the domain's running token
    * sum stays within its cap. Emits the full audit row per doc —
    * n_tok, running cum, the domain's cap, kept — so the same output
    * drives both the filter and the "what did the cap cost each
    * domain" report.
    *
    * Scale shape: the per-domain running sum is [[runningSum]]'s
    * two-pass range-repartition prefix (never a corpus window — a
    * corpus-dominating domain would serialize through one sort task);
    * the corpus total is ONE scalar aggregate broadcast back. Compare
    * [[quotaSample]] (count-based, fixed k per stratum, needs no
    * global pass) — caps are SHARE-based, so the bound moves with the
    * corpus and the two operators answer different curation
    * questions. */
  def domainTokenCaps(docs: DataFrame, domainCol: String,
      shareNum: Long, shareDen: Long, salt: String = "domcap"): DataFrame = {
    require(shareNum > 0 && shareDen >= shareNum,
      s"share must be in (0,1]: $shareNum/$shareDen")
    graft.functions.PolyHash31.register(docs.sparkSession)
    val nTok = coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
    val base = docs.select(col(domainCol), col("doc_id"), nTok.as("n_tok"))
      .withColumn("h_ord", splitHash(salt, col("doc_id")))
    val cum = runningSum(base, Seq(domainCol), Seq("h_ord", "doc_id"),
      "n_tok")
    val total = docs.agg(
      coalesce(sum(nTok), lit(0L)).as("total_tokens"))
    cum.crossJoin(broadcast(total))
      .withColumn("cap", expr(s"(total_tokens * $shareNum) div $shareDen"))
      .select(col(domainCol), col("doc_id"), col("n_tok"), col("h_ord"),
        col("cum"), col("cap"), (col("cum") <= col("cap")).as("kept"))
  }

  /** Global deterministic sample of exactly `n` docs: the n smallest
    * (split-hash, doc_id) over the whole corpus. Plans as
    * `TakeOrderedAndProject` — every partition keeps its local top-n
    * and only those reach the driver-side merge, so the "global sort"
    * never materializes; the same reproducibility contract as
    * [[quotaSample]], without strata. */
  def globalSample(docs: DataFrame, n: Int,
      salt: String = "sample"): DataFrame = {
    graft.functions.PolyHash31.register(docs.sparkSession)
    docs.select(col("doc_id"), splitHash(salt, col("doc_id")).as("h_sample"))
      .orderBy(col("h_sample"), col("doc_id"))
      .limit(n)
  }

  /** Benchmark decontamination: flag docs in `train` whose k-shingle
    * sets overlap the distinct shingle universe of `heldout` (the
    * eval/test split) — the hygiene pass that keeps benchmark text out
    * of a training corpus. Returns one row per CONTAMINATED train doc
    * with the overlap count; clean docs are absent (callers anti-join
    * to drop flagged docs).
    *
    * Scale shape: both sides use the in-row content-hash shingle sets
    * (no vocabulary); the held-out side collapses to its DISTINCT
    * shingle-id universe — benchmarks are orders of magnitude smaller
    * than the corpus, so this is the small side of one equi-join
    * against the train postings, and the join output is only the
    * colliding rows. Nothing is ever all-pairs and the train text
    * itself never shuffles (ids only). */
  def decontaminate(train: DataFrame, heldout: DataFrame,
      shingleK: Int = 3): DataFrame = {
    // shingleIdSets uses the poly_hash31 SQL function — register here
    // so a fresh session works without an earlier registering call
    graft.functions.PolyHash31.register(train.sparkSession)
    val testTids = TextOps.shingleIdSets(heldout, shingleK)
      .select(explode(col("tids")).as("tid")).distinct()
    TextOps.shingleIdSets(train, shingleK)
      .select(col("doc_id"), explode(col("tids")).as("tid"))
      .join(testTids, Seq("tid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[decontaminate]] specialization for the common case where train
    * and held-out are SPLITS OF ONE TABLE (e.g. the hash split): one
    * shingling pass over the whole table with the split label carried
    * in-row, then the same postings⋈universe join — half the scan/hash
    * work of the two-frame form, identical output. */
  def decontaminateSplit(docs: DataFrame, splitCol: String,
      trainVal: String, heldoutVal: String,
      shingleK: Int = 3): DataFrame = {
    graft.functions.PolyHash31.register(docs.sparkSession)
    // consumed by both split slices below; released after the
    // result's first materialization
    val sets = TextOps.shingleIdSets(docs, shingleK, keep = Seq(splitCol))
      .persist()
    val testTids = sets.where(col(splitCol) === heldoutVal)
      .select(explode(col("tids")).as("tid")).distinct()
    val result = sets.where(col(splitCol) === trainVal)
      .select(col("doc_id"), explode(col("tids")).as("tid"))
      .join(testTids, Seq("tid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    CacheLifecycle.unpersistAfterFirstUse(result, sets)
    result
  }

  /** Split-LEAKAGE audit: near-duplicate pairs that STRADDLE a
    * train/val/test boundary — the eval-integrity check a hash split
    * ([[assignSplits]]) needs before anyone trusts held-out numbers
    * (a doc-level split is blind to duplicate structure: two
    * near-copies land on opposite sides with probability
    * 1 − Σ pₛ², and every such pair silently inflates eval scores).
    * Input is any near-dup pair frame (e.g.
    * [[Dedup.minhashNearDups]]'s `(d1, d2, …, jaccard)`); each side's
    * split is recomputed IN-ROW from the same salted hash
    * [[assignSplits]] uses — no join against a corpus-sized
    * assignment table, so the audit costs one projection over the
    * (already small) pair set regardless of corpus size. Cross-split
    * pairs survive with both labels; fixing them (quarantining one
    * side, or re-keying the split on the dedup cluster id from
    * [[Dedup.connectedComponents]] so whole clusters travel together) is
    * the caller's policy decision. */
  def splitLeakage(pairs: DataFrame, salt: String = "split",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    graft.functions.PolyHash31.register(pairs.sparkSession)
    def splitOf(c: Column): Column = {
      val b = splitHash(salt, c) % 100
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test")
    }
    pairs
      .withColumn("split1", splitOf(col("d1")))
      .withColumn("split2", splitOf(col("d2")))
      .where(col("split1") =!= col("split2"))
  }

  /** Leakage-SAFE split assignment — the remediation for what
    * [[splitLeakage]] audits: near-dup CLUSTERS go to splits
    * atomically (the split hash keys on the cluster's canonical
    * min-id from [[Dedup.connectedComponents]], not the doc's own id),
    * so a verified near-dup pair can never straddle a train/test
    * boundary — the split-by-cluster practice eval-integrity papers
    * prescribe. Docs outside the pair graph hash on their own id,
    * which IS their singleton cluster's canonical id: wherever dedup
    * found nothing, the assignment equals [[assignSplits]] exactly
    * (pinned in SamplingSpec), so adopting this is a no-op for the
    * clean part of a corpus.
    *
    * Scale shape: the cluster map is pair-graph-sized (O(LSH
    * collisions) ≪ corpus) and rides a broadcast left join; everything
    * else stays the per-row projection [[assignSplits]] is. Returns
    * (doc_id, cluster_id, split). */
  def clusterSafeSplits(docs: DataFrame, pairs: DataFrame,
      salt: String = "split", trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    graft.functions.PolyHash31.register(docs.sparkSession)
    val cc = Dedup.connectedComponents(pairs.select(col("d1"), col("d2")))
      .select(col("doc_id"), col("cluster_id"))
    val b = splitHash(salt, col("cluster_id")) % 100
    docs.select(col("doc_id"))
      .join(broadcast(cc), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Mixture rebalancing plan: per stratum cell (e.g. lang × source),
    * the deterministic downsampling rate that moves the corpus toward
    * a UNIFORM token budget per cell — `target = total_tokens div
    * n_cells`, `rate = min(1, target / cell_tokens)` — plus the
    * resulting token estimate. The "how much of each slice do we
    * keep" planning step before a mixture-weighted sample; feed
    * `rate` into a hash threshold ([[splitHash]] mod 10⁶ <
    * rate·10⁶) for the actual per-doc draw.
    *
    * Exactness: the target is integer division, the rate ONE IEEE
    * division of exact integers — any engine reproduces the plan
    * bit-for-bit. The corpus-wide total reaches each cell via a
    * broadcast single-row aggregate (never an unpartitioned window —
    * the cell table may be large at 100 TB even though each row is
    * tiny). */
  def mixturePlan(docs: DataFrame, strataCols: Seq[String]): DataFrame = {
    val cells = docs
      .select(strataCols.map(col) :+
        size(split(col("text"), " ")).cast("long").as("n_tok"): _*)
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("cell_tokens"))
    val totals = cells.agg(
      sum(col("cell_tokens")).as("total_tokens"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(totals))
      .withColumn("target_tokens", expr("total_tokens div n_cells"))
      .withColumn("rate",
        least(lit(1.0), col("target_tokens").cast("double")
          / col("cell_tokens")))
      .withColumn("kept_tokens_est",
        least(col("cell_tokens"), col("target_tokens")))
      .select(strataCols.map(col) ++ Seq(col("n_docs"),
        col("cell_tokens"), col("target_tokens"), col("rate"),
        col("kept_tokens_est")): _*)
  }

  /** Exact integer square root as a SQL expression over column `x`
    * (BIGINT, ≥ 0): `floor(sqrt(double(x)))` then ±1 corrections —
    * the double conversion loses bits past 2⁵³, so the float result
    * can land one off a perfect-square boundary. Both corrections
    * compare via INTEGER DIVISION (`s+1 ≤ x div (s+1)` ⇔ `(s+1)² ≤
    * x`), never squaring, so nothing overflows even at
    * x = 2⁶³−1 — and the same rewrite keeps the DuckDB oracle
    * overflow-safe (DuckDB checks int64 overflow loudly). */
  private[graft] def isqrtExpr(x: String): Column = {
    val s0 = s"CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT)"
    val s1 = s"(CASE WHEN $s0 > 0 AND ($x) div greatest($s0, " +
      s"CAST(1 AS BIGINT)) < $s0 THEN $s0 - 1 ELSE $s0 END)"
    expr(s"CASE WHEN ($x) div ($s1 + 1) >= $s1 + 1 " +
      s"THEN $s1 + 1 ELSE $s1 END")
  }

  /** Temperature-scaled mixture plan: like [[mixturePlan]] but the
    * per-cell token target follows w_i ∝ cell_tokens^α with α = 1/2 —
    * the standard multilingual/multi-source rebalance (τ = 2
    * temperature sampling: upweight small languages, flatten the
    * head) instead of the fully uniform α = 0 target. α is FIXED at
    * 1/2 because that is the one non-trivial exponent with an exact
    * integer evaluation ([[isqrtExpr]]); an arbitrary float `pow`
    * would un-oracle the plan for a knob nobody tunes continuously.
    *
    * `target_i = floor(total_tokens · w_i / Σw)` evaluated as
    * `(total div Σw)·w + ((total mod Σw)·w) div Σw` — algebraically
    * exact, and the largest intermediate is bounded by Σw·max_w
    * instead of total·max_w, so the plan stays in int64 at corpus
    * sizes where the naive product overflows. Rates/estimates follow
    * [[mixturePlan]]'s one-IEEE-division contract; the totals reach
    * cells via a broadcast single-row aggregate. */
  def temperatureMixturePlan(docs: DataFrame,
      strataCols: Seq[String]): DataFrame = {
    val cells = docs
      .select(strataCols.map(col) :+
        size(split(col("text"), " ")).cast("long").as("n_tok"): _*)
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("cell_tokens"))
      .withColumn("w", isqrtExpr("cell_tokens"))
    val totals = cells.agg(
      sum(col("cell_tokens")).as("total_tokens"),
      sum(col("w")).as("sum_w"))
    cells.crossJoin(broadcast(totals))
      .withColumn("target_tokens",
        expr("(total_tokens div sum_w) * w + " +
          "((total_tokens % sum_w) * w) div sum_w"))
      .withColumn("rate",
        least(lit(1.0), col("target_tokens").cast("double")
          / col("cell_tokens")))
      .withColumn("kept_tokens_est",
        least(col("cell_tokens"), col("target_tokens")))
      .select(strataCols.map(col) ++ Seq(col("n_docs"),
        col("cell_tokens"), col("w"), col("target_tokens"), col("rate"),
        col("kept_tokens_est")): _*)
  }

  /** Apply a [[mixturePlan]]: the deterministic per-doc draw that
    * turns the planned per-cell `rate` into an actual kept subset —
    * doc survives iff `splitHash(salt, doc_id) mod 10⁶ < rate·10⁶`.
    * Closes the plan→sample loop the way [[graft.operators.Dedup
    * .dedupedCorpus]] closes detect→apply for dedup.
    *
    * Scale shape: the plan is one row per stratum cell — always the
    * broadcast side — and the draw itself is a pure per-row
    * projection, so the corpus pays one broadcast-joined scan. The
    * threshold comparison is reproducible across engines: `h mod 10⁶`
    * is exact integer arithmetic and `rate·10⁶` is ONE IEEE multiply
    * of the plan's deterministic rate. */
  def applyMixture(docs: DataFrame, strataCols: Seq[String],
      salt: String = "mix"): DataFrame = {
    graft.functions.PolyHash31.register(docs.sparkSession)
    val plan = mixturePlan(docs, strataCols)
      .select(strataCols.map(col) :+ col("rate"): _*)
    docs
      .join(broadcast(plan), strataCols)
      .withColumn("h_mix", splitHash(salt, col("doc_id")) % 1000000L)
      // pushdown substitutes h_mix's hash into the filter below the
      // Project, so survivors hash twice — accepted here: this is ONE
      // scalar hash of a short string (not the array-expression
      // double-eval trap), and the pushed filter prunes losers before
      // any downstream work
      .where(col("h_mix").cast("double") < col("rate") * 1000000.0)
      .select(strataCols.map(col) :+ col("doc_id") :+ col("h_mix") :+
        col("rate"): _*)
  }

  /** Greedy token-budget packing: per stratum, walk docs in doc_id
    * order accumulating token counts; a doc goes to the bin its
    * RUNNING-START offset falls in (`floor(start / budget)`), i.e. docs
    * fill shard 0 until `budget` tokens are reached, then shard 1, …
    * The deterministic, restart-safe shape of "pack the corpus into
    * fixed-size training shards".
    *
    * The running sum is [[runningTokenSum]]'s two-pass distributed
    * prefix sum — NOT a per-stratum window (a Spark window
    * hash-partitions on its keys, so a corpus that is mostly one
    * stratum, e.g. `lang='en'`, would serialize through a single sort
    * task). Output is the per-bin manifest: doc list boundaries
    * summarized as n_docs / sum_tokens / first/last doc ids — the
    * shard index a pack-writer consumes. */
  def packTokenBudget(docs: DataFrame, strataCols: Seq[String],
      budget: Long): DataFrame = {
    require(budget > 0)
    // null text counts as 0 tokens (keeps its slot in the doc_id
    // sequence at no budget cost) rather than poisoning cum/bin
    val nTok = coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
    val base = docs
      .select(strataCols.map(col) :+ col("doc_id") :+ nTok.as("n_tok"): _*)
    runningTokenSum(base, strataCols)
      // integer `div`, not `/`: float division + cast can round a
      // boundary value up across the bin edge for non-power-of-2 budgets
      .withColumn("bin", expr(s"(cum - n_tok) div ${budget}L"))
      .groupBy(strataCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Distributed per-stratum running sum: adds `cum` = the inclusive
    * prefix sum of `n_tok` in (stratum, doc_id) order, plus the range
    * partition id `pid` (kept so tests can assert the sort really
    * distributed). Input must carry `strataCols`, `doc_id`, `n_tok`.
    *
    * Shape (a two-pass offset pattern): range-repartition +
    * sort-within-partitions on (strata…, doc_id) spreads EVERY stratum
    * — including a corpus-dominating one — across ordered partition
    * ranges; pass 1 computes each partition's local running sums
    * imperatively (strata are contiguous in the partition sort order,
    * so a key change resets the accumulator); pass 2 derives each
    * (partition, stratum) carry-in from the per-partition totals — a
    * frame of at most #partitions + #strata rows, so its per-stratum
    * prefix-sum window is over a histogram, never the corpus — and
    * broadcast-joins it back. Partition-boundary placement cannot
    * affect `cum`: ranges are ordered and the carry-in is exactly the
    * token mass of earlier ranges. The local frame is persisted
    * (MEMORY_AND_DISK) because the totals pass and the join both
    * consume it, and released after the result's first
    * materialization. */
  private[graft] def runningTokenSum(base: DataFrame,
      strataCols: Seq[String]): DataFrame =
    runningSum(base, strataCols, Seq("doc_id"), "n_tok")

  /** Deterministic training-shard export — the assembly pipeline's
    * LAST stage: assign every doc a shard and a stable in-shard
    * position, so N independent writers emit N bit-reproducible shard
    * files in ONE pass. Shard = shard-hash mod `nShards` (a pure
    * projection, stable under corpus growth exactly like
    * [[assignSplits]] — a doc's shard never moves when others
    * arrive); in-shard position = the rank of (order-hash, doc_id) —
    * a deterministic GLOBAL SHUFFLE, decorrelating training batches
    * from crawl/source order, which `rand()`-based shuffles cannot do
    * reproducibly across engines or retries.
    *
    * Scale shape: the rank is [[runningSum]]'s two-pass
    * range-repartition prefix count, NOT a per-shard `row_number`
    * window — with the few hundred shards a real export uses, a
    * window would sort corpus/nShards rows through single tasks;
    * the two-pass form spreads every shard across ordered partition
    * ranges (the one-stratum StressSpec pathology). Returns
    * `(shard, rn, doc_id, h_ord)`. */
  def exportShards(docs: DataFrame, nShards: Int,
      salt: String = "shard"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    graft.functions.PolyHash31.register(docs.sparkSession)
    val base = docs.select(col("doc_id"))
      .withColumn("shard",
        pmod(splitHash(salt, col("doc_id")), lit(nShards)))
      .withColumn("h_ord", splitHash(salt + "-ord", col("doc_id")))
      .withColumn("one", lit(1L))
    runningSum(base, Seq("shard"), Seq("h_ord", "doc_id"), "one")
      .withColumnRenamed("cum", "rn")
      .select(col("shard"), col("rn"), col("doc_id"), col("h_ord"))
  }

  /** Generalization of [[runningTokenSum]] to an arbitrary total order
    * and summand: `cum` = the inclusive per-stratum prefix sum of
    * `valueCol` (LongType; null counts 0) in (strata…, orderCols…)
    * order. With `valueCol` ≡ 1 this is a distributed per-stratum
    * RANK over `orderCols` — the scale-safe substitute for
    * `row_number() OVER (PARTITION BY strata ORDER BY …)`, which
    * sorts every stratum through one task. `orderCols` must be a
    * TOTAL order (append a unique id as the last key) or ranks at
    * duplicate sort keys depend on partition placement. */
  private[graft] def runningSum(base: DataFrame, strataCols: Seq[String],
      orderCols: Seq[String], valueCol: String): DataFrame = {
    val spark = base.sparkSession
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val k = strataCols.length
    val sortCols = (strataCols ++ orderCols).map(col)
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = base
      // canonical (strata…, order…, value) layout: the per-partition
      // pass below reads rows POSITIONALLY (stratum prefix, value at
      // k+m), so the operator must not trust the caller's column order
      .select((strataCols ++ orderCols).map(col) :+ col(valueCol): _*)
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = StructType(sorted.schema.fields ++ Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("local_cum", LongType, nullable = false)))
    val nTokIdx = k + orderCols.length // layout: strata…, order…, value
    // Stratum values surface as JVM objects here, and BinaryType
    // becomes Array[Byte], whose == is reference identity — an
    // un-normalized Seq[Any] comparison would reset the accumulator
    // on EVERY row and silently corrupt cum. Wrap arrays (recursively,
    // for array-of-array strata) in Seqs, which compare by value.
    def normEl(v: Any): Any = v match {
      case a: Array[_] => a.toSeq.map(normEl)
      case x => x
    }
    val localRdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var key: Seq[Any] = null
      var run = 0L
      it.map { r =>
        val sk = r.toSeq.take(k).map(normEl)
        if (sk != key) { key = sk; run = 0L }
        // null n_tok (e.g. a null-text doc) counts as 0 tokens — the
        // row keeps its position in the sequence without advancing it
        run += (if (r.isNullAt(nTokIdx)) 0L else r.getLong(nTokIdx))
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq[Any](pid, run))
      }
    }
    val local = spark.createDataFrame(localRdd, schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // n_tok ≥ 0 makes local_cum monotone, so max = the partition total
    val totals = local.groupBy((col("pid") +: strataCols.map(col)): _*)
      .agg(max(col("local_cum")).as("part_tok"))
    // window over the TINY totals frame only; partition by a constant
    // when strata are empty so PlanGuard's unpartitioned-window ban
    // holds vacuously (the frame is ≤ #partitions rows either way)
    val carryKeys =
      if (strataCols.nonEmpty) strataCols.map(col) else Seq(lit(true))
    val wCarry = Window.partitionBy(carryKeys: _*)
      .orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("carry", coalesce(sum(col("part_tok")).over(wCarry), lit(0L)))
      .select((col("pid") +: strataCols.map(col)) :+ col("carry"): _*)
    // null-safe equality so a null stratum value still finds its
    // carry-in (a using-columns equi-join would silently drop it)
    val renamed = ("pid" +: strataCols).foldLeft(offsets)(
      (d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val cond = strataCols.map(c => col(c) <=> col(s"__o_$c"))
      .foldLeft(col("pid") === col("__o_pid"))(_ && _)
    val result = local.join(broadcast(renamed), cond)
      .withColumn("cum", col("local_cum") + col("carry"))
      .drop(("local_cum" +: "carry" +: "__o_pid" +:
        strataCols.map(c => s"__o_$c")): _*)
    CacheLifecycle.unpersistAfterFirstUse(result, local)
    result
  }
}
