package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline extension
  * (SURVEY.md §7.2.8): exact content dedup, MinHash-LSH near-dup,
  * SimHash signatures, blocked n-gram Jaccard, and rolling-hash
  * document fingerprints.
  *
  * Scale design (100 TB):
  *  - exact dedup shuffles only (digest, doc_id) — the text never moves;
  *  - MinHash-LSH generates candidates via banded bucket join — the one
  *    operator family where an all-pairs crossJoin is tempting and
  *    fatal; candidates are O(collisions), not O(n²);
  *  - Jaccard verification intersects the in-row shingle-id sets of
  *    candidate pairs only;
  *  - blocked Jaccard restricts pairing to explicit blocking keys;
  *  - per-doc windows (fingerprints) partition by doc_id — bounded by
  *    document length, no skew.
  */
object Dedup {

  import TextOps.HashP

  /** Exact dedup via content digest: one row per distinct text with the
    * kept (minimum) doc_id and the duplicate count. Project-then-group
    * so the shuffle carries 64 hex chars + a long per row. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text"), 256).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))

  /** MinHash signatures, one row per doc with all `numPerms` mins as
    * columns sig0…sigN — a SINGLE hash aggregate with N min states per
    * key (the row-per-permutation formulation multiplies the shingle
    * table ×N before aggregating; this one never materializes it).
    * Permutation i is h_i(x) = (a_i·x + b_i) mod P, a_i = 1+2i,
    * b_i = 7+3i, over the shingle ids in `dt` (doc_id, tid). The
    * exploded reference form of the in-row `minhash_sigs` expression
    * the pipeline uses (DedupSpec pins their equality). */
  def minhashSignatures(dt: DataFrame, numPerms: Int): DataFrame = {
    val sigs = (0 until numPerms).map { i =>
      min((col("tid") * (1 + 2 * i) + (7 + 3 * i)) % HashP).as(s"sig$i")
    }
    dt.groupBy(col("doc_id")).agg(sigs.head, sigs.tail: _*)
  }

  /** Band-key columns over an in-row `sig` array<long> column: band b's
    * key is the comma-joined slice sig[b·r+1 … b·r+r] — the same string
    * the oracle's `string_agg(sig, ',' ORDER BY i)` builds. Shared by
    * the batch and streaming MinHash pipelines. */
  def sigBandKeys(numPerms: Int, rowsPerBand: Int): Seq[Column] = {
    // a remainder would silently DROP the trailing permutations from
    // banding — paid for in the signature, absent from the detection
    // probability the caller thinks they configured
    require(numPerms % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numPerms=$numPerms")
    (0 until numPerms / rowsPerBand).map { b =>
      concat_ws(",", (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1)
          .cast("string")): _*)
    }
  }

  /** Candidate pairs (d1 < d2) sharing at least one LSH bucket.
    *
    * Shaped as ONE groupBy + in-row pair expansion, not a bands⊳⊲bands
    * self-join: the self-join shuffles the band table twice and replays
    * its whole upstream (signature aggregation) once per side, where
    * the groupBy shuffles it once and emits each bucket's C(n,2) pairs
    * from a sorted in-memory doc list. Output is identical — a bucket
    * of n docs yields the same n(n−1)/2 ordered pairs either way, and
    * LSH buckets are small by construction (a bucket's size is its
    * collision count).
    *
    * A DEGENERATE bucket — a band key that stopped discriminating,
    * e.g. millions of near-identical boilerplate docs — would
    * materialize its full C(n,2) pair array in ONE task's row: a
    * single-task OOM at scale. Buckets larger than `maxBucket` are
    * therefore expanded as a STAR around the minimum doc id (n−1
    * pairs) instead of all-pairs: every member still reaches the
    * verify step (paired with the anchor), and connected components
    * merges the bucket transitively WHEN the anchor pairs pass
    * verification. That is a RECALL caveat, not just a cost one:
    * members B and C of an over-cap bucket merge only if BOTH
    * anchor–B and anchor–C pass the exact-Jaccard verify, so a B~C
    * duplicate whose anchor pair falls below the threshold is missed —
    * the thinning can change the clustering, not only the pair count.
    * (In practice an over-cap bucket means the band key stopped
    * discriminating — its members are near-copies — so anchor pairs
    * usually verify; but callers needing full recall inside
    * degenerate buckets must raise `maxBucket`.) Overflow is
    * accounted via an `observe` metric `lsh_buckets_<n>` with
    * `overflow_buckets` / `max_bucket_size` columns (read it from
    * `df.queryExecution.observedMetrics` after an action, or with a
    * `QueryExecutionListener`; the name is uniquified per call so two
    * candidate stages can share one query tree). */
  def lshCandidates(bands: DataFrame, maxBucket: Int = 1000): DataFrame = {
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    bands.groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) > 1)
      .observe(s"lsh_buckets_${obsId.incrementAndGet()}",
        sum(when(size(col("ds")) > maxBucket, 1L).otherwise(0L))
          .as("overflow_buckets"),
        coalesce(max(size(col("ds"))), lit(0)).as("max_bucket_size"))
      .select(explode(expr(
        s"""CASE WHEN size(ds) <= $maxBucket THEN
           |  flatten(transform(sequence(1, size(ds) - 1),
           |    i -> transform(slice(ds, i + 1, size(ds) - i),
           |      j -> struct(element_at(ds, i) as d1, j as d2))))
           |ELSE
           |  transform(slice(ds, 2, size(ds) - 1),
           |    j -> struct(element_at(ds, 1) as d1, j as d2))
           |END""".stripMargin)).as("p"))
      .select(col("p.d1"), col("p.d2")).distinct()
  }

  /** Uniquifier for [[lshCandidates]]' observe-metric names (Spark
    * rejects duplicate CollectMetrics names within one query tree). */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Shared MinHash candidate pipeline: per-doc shingle-id SETS
    * (persisted — the caller owns their release), the same sets with
    * the MinHash signature derived in-row from the cached tids (NOT
    * persisted), and the LSH candidate pairs (the only shuffles are
    * the band-bucket groupBy and the pair distinct). One implementation
    * feeds both [[minhashNearDups]]' dedup and [[minhashEstimate]]'s
    * calibration audit, so the audited candidate set can never
    * desynchronize from the dedup it calibrates (DedupSpec pins the
    * equality as well). `shingleIdSets` drops short docs, like the
    * exploded form's absent rows, so no set here is ever empty. */
  private def polyCandidates(corpus: DataFrame, shingleK: Int,
      numPerms: Int, rowsPerBand: Int,
      maxBucket: Int): (DataFrame, DataFrame, DataFrame) = {
    // persist the shingle SETS only — every consumer re-derives `sig`
    // in-row from the cached tids (O(perms·|tids|) compute, zero extra
    // cache bytes). The dedup path never reads sig after banding, so
    // caching it would hold dead weight in the block store for the
    // whole session; minhashEstimate derives it per join leg instead.
    val sets = TextOps.shingleIdSets(corpus, shingleK)
      .select(col("doc_id"), col("tids")).persist()
    val withSig = sets.withColumn("sig",
      expr(s"minhash_sigs(tids, $numPerms)"))
    val bands = withSig.select(col("doc_id"),
      posexplode(array(sigBandKeys(numPerms, rowsPerBand): _*))
        .as(Seq("band", "bkey")))
    (sets, withSig, lshCandidates(bands, maxBucket))
  }

  /** Full MinHash-LSH near-dup pipeline over a (doc_id, text) corpus:
    * k-shingle id sets → signatures → bands → candidates → exact
    * Jaccard ≥ threshold.
    *
    * Shingle ids are `poly_hash31(shingle)` — a pure per-row
    * projection, no vocabulary, no distinct/sort/join, AND
    * oracle-reproducible (DuckDB computes the same byte recurrence;
    * see [[graft.functions.PolyHash31]]), so id assignment costs
    * nothing at any scale.
    *
    * Lifecycle: the shingle-id sets feed the banding and both verify
    * legs, so they are persisted and released after the result's first
    * materialization ([[CacheLifecycle]]); the candidate pairs have one
    * reader and stay in-plan. */
  def minhashNearDups(corpus: DataFrame, spark: SparkSession,
      shingleK: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    graft.functions.PolyHash31.register(spark)
    val (ds, _, cands) = polyCandidates(corpus, shingleK, numPerms,
      rowsPerBand, maxBucket)
    // verify in-row: candidate pairs are FEW (LSH collisions), so a
    // per-pair array_intersect of two ~doc-length sets beats any
    // postings shuffle. (blockedJaccard documents the opposite choice
    // — there every within-block pair is a candidate.)
    val result = cands
      .join(ds.select(col("doc_id").as("d1"), col("tids").as("t1")),
        Seq("d1"))
      .join(ds.select(col("doc_id").as("d2"), col("tids").as("t2")),
        Seq("d2"))
      .withColumn("n_inter",
        size(array_intersect(col("t1"), col("t2"))).cast("long"))
      .withColumn("n_union",
        size(col("t1")).cast("long") + size(col("t2")) - col("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union"))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("n_inter"), col("n_union"),
        col("jaccard"))
    CacheLifecycle.unpersistAfterFirstUse(result, ds)
    result
  }

  /** MinHash ESTIMATOR audit over the LSH candidate pairs: for each
    * candidate, the signature-agreement Jaccard estimate (the number
    * every sketch-only dedup acts on) side by side with the exact
    * shingle-set Jaccard, plus their absolute error — the calibration
    * check that tells an operator whether `numPerms` is adequate
    * before trusting estimate-thresholded dedup at full scale.
    *
    * Same pipeline shape as [[minhashNearDups]] (sets and signatures
    * stay in-row; the only shuffles are the band groupBy and the pair
    * distinct); the audit adds one in-row
    * `zip_with` agreement count per candidate pair — candidates are
    * few by construction, so the audit is free at any corpus size.
    * The shingle-set cache is released after the result's first
    * materialization ([[CacheLifecycle]]).
    *
    * All derived columns are integer-exact e4 fixed-point
    * (`est_e4 = n_agree·10⁴ div numPerms`,
    * `jac_e4 = n_inter·10⁴ div n_union`), so the frame hash-compares
    * across engines. Returns
    * (d1, d2, n_agree, est_e4, n_inter, n_union, jac_e4, err_e4). */
  def minhashEstimate(corpus: DataFrame, spark: SparkSession,
      shingleK: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    graft.functions.PolyHash31.register(spark)
    val (ds, withSig, cands) = polyCandidates(corpus, shingleK, numPerms,
      rowsPerBand, maxBucket)
    val result = cands
      .join(withSig.select(col("doc_id").as("d1"), col("tids").as("t1"),
        col("sig").as("s1")), Seq("d1"))
      .join(withSig.select(col("doc_id").as("d2"), col("tids").as("t2"),
        col("sig").as("s2")), Seq("d2"))
      .withColumn("n_agree",
        expr("size(filter(zip_with(s1, s2, (x, y) -> x = y), b -> b))")
          .cast("long"))
      .withColumn("est_e4", expr(s"(n_agree * 10000) div $numPerms"))
      .withColumn("n_inter",
        size(array_intersect(col("t1"), col("t2"))).cast("long"))
      .withColumn("n_union",
        size(col("t1")).cast("long") + size(col("t2")) - col("n_inter"))
      .withColumn("jac_e4", expr("(n_inter * 10000) div n_union"))
      .withColumn("err_e4", abs(col("est_e4") - col("jac_e4")))
      .select(col("d1"), col("d2"), col("n_agree"), col("est_e4"),
        col("n_inter"), col("n_union"), col("jac_e4"), col("err_e4"))
    CacheLifecycle.unpersistAfterFirstUse(result, ds)
    result
  }

  /** Connected components over an undirected near-dup pair graph
    * (`d1`, `d2` columns): the grouping step that turns pairwise
    * "A≈B" verdicts into dedup CLUSTERS — every doc gets the minimum
    * doc_id reachable from it as `cluster_id`, and `keep = 1` marks
    * the canonical (minimum) member of each cluster.
    *
    * Min-label propagation, tuned so one round is ONE join + ONE
    * min-aggregate and ONE tiny action (iterative loops live or die on
    * per-round stage count — an earlier shape with a separate
    * own-vs-neighbor merge join and a `changed`-count pass measured
    * 1.8 s/round of pure overhead at any data size):
    *  - SELF-loops are appended to the symmetric edge list, so
    *    min-over-incoming-labels already includes the node's own label
    *    — no second merge join;
    *  - the edge table is hash-repartitioned on `src` ONCE and cached;
    *    every round's join reuses that layout (the cached frame's
    *    partitioning elides the probe-side exchange), so a round
    *    shuffles only the label table — one row per pair-graph node;
    *  - convergence is monotone: labels only decrease, so the label
    *    SUM (exact, as decimal(38,0) — no overflow at any node count)
    *    is strictly decreasing until fixpoint; comparing consecutive
    *    sums replaces a join-against-previous `changed` count.
    * Rounds are bounded by the largest component diameter for SHALLOW
    * graphs; past round 6 a pointer-jumping contraction (label := label
    * of label) engages, so deep chain-shaped components converge in
    * O(log diameter) materializations — `maxIter = 50` covers diameters
    * around 35 000, not fifty (StressSpec runs a 1000-deep chain
    * through the default budget). `localCheckpoint` periodically
    * truncates the growing lineage.
    *
    * Scale contract: the input is the VERIFIED near-dup pair list —
    * O(LSH collisions), orders of magnitude smaller than the corpus
    * (the corpus itself never enters the loop). Driver-side control
    * flow + cluster-side data is the standard Spark shape for
    * iterative graph algorithms.
    *
    * Small graphs — the COMMON case — take a bounded driver-side fast
    * path instead: when the pair list holds at most
    * `localEdgeThreshold / 4` rows (the loop-equivalent edge table is
    * 2·pairs + nodes ≤ 4·pairs rows, so this keeps the collected
    * volume within the same `localEdgeThreshold` bound — the default
    * 2 M edges ≈ tens of MB of longs, broadcast-sized), the RAW pair
    * projection is collected and clustered by union-find with
    * union-by-minimum, which yields the identical (cluster_id = min
    * reachable id, keep = canonical) answer in microseconds. The
    * symmetric mirror, self-loops, node distinct, and src-repartition
    * are all LOOP machinery (they make `propagate` total and
    * shuffle-stable); union-find derives both directions and the node
    * set from the pair rows, so the fast path skips their two
    * shuffles entirely — profiled at sf0.1, that machinery was the
    * bulk of the CC stage's remaining ~1.2 s on few-hundred-row
    * graphs. Rationale for the fast path itself, measured at sf0.1:
    * the iterative loop's per-materialization constants (job
    * scheduling + AQE planning + the convergence probe across 4+
    * shuffle stages) cost ~2 s REGARDLESS of graph size — pure
    * overhead on the pair graphs every dedup run produces, and the
    * dominant stage of the whole dedupedCorpus pipeline. The collect
    * is bounded exactly like a broadcast join's build side (a
    * threshold decides, the distributed loop is the over-threshold
    * fallback), so this is the broadcast-threshold pattern, not an
    * unbounded driver-side loop. The fast path engages only for
    * integer/long id columns (every call site; anything else falls
    * through to the loop). Set `localEdgeThreshold = 0` to force the
    * distributed loop (StressSpec does, to pin the loop's own
    * contract). */

  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      localEdgeThreshold: Long = 2L << 20): DataFrame = {
    val idType = pairs.schema("d1").dataType
    // BOTH columns must carry the same accepted id type — a mixed
    // long/int frame would reach localComponents' typed getters and
    // ClassCastException, where the loop's union would coerce; such
    // frames (and any other type) fall through to the loop
    val localEligible = (localEdgeThreshold > 0) &&
      pairs.schema("d2").dataType == idType &&
      (idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType)
    // the raw pair projection, cached once: the fast path collects it
    // directly; the loop's edge table reads it THREE times (two sym
    // branches + the node distinct) — without this cache an
    // un-persisted input (e.g. a verify join handed straight in) would
    // replay its whole upstream per read. Ownership check first: an
    // alias-only Project CANONICALIZES to its child, so when the
    // caller already persisted the pair frame (dedupedCorpus does)
    // this plan hits the same cache entry — persisting again would
    // double-register and, fatally, unpersisting here would drop the
    // CALLER's cache out from under its later reads.
    val basePlan = pairs.select(col("d1").as("src"), col("d2").as("dst"))
    val ownCache =
      basePlan.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val base = if (ownCache) basePlan.persist() else basePlan
    def releaseBase(): Unit = if (ownCache) base.unpersist()
    if (localEligible) {
      val nPairs = base.count()
      if (nPairs <= localEdgeThreshold / 4) {
        val result = localComponents(pairs.sparkSession, base,
          idType == org.apache.spark.sql.types.IntegerType)
        releaseBase()
        return result
      }
    }
    val sym = base
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
    // Null-endpoint parity with localComponents: a null id never
    // unions anything (equi-joins would not propagate through it
    // anyway), the non-null partner of a half-null pair still
    // registers as a singleton node, and NO null output row is
    // emitted. Without the node-side filter a half-null pair would
    // have leaked a (doc_id=null, keep=0) row here that the fast path
    // drops — identical input must not change shape with the path
    // taken. Ids are non-null at every internal call site, so for
    // those Catalyst folds both filters away (IsNotNull on a
    // non-nullable column is `true`) and the green plans are
    // untouched.
    val nodes = sym.select(col("src").as("node"))
      .where(col("node").isNotNull).distinct()
    val edges = sym
      .where(col("src").isNotNull && col("dst").isNotNull)
      .unionByName(nodes.select(col("node").as("src"), col("node").as("dst")))
      .repartition(col("src")).persist()
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    def lblSum = sum(col("lbl").cast("decimal(38,0)")).as("lbl_sum")
    def propagate(l: DataFrame): DataFrame = edges
      .join(l.select(col("node").as("src"), col("lbl")), Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(min(col("lbl")).as("lbl"))
    // Pointer jumping (lbl(n) := lbl(lbl(n))): the label forest's
    // depth HALVES per application, so once it engages the effective
    // reach per materialization grows geometrically — a chain-shaped
    // component (the propagation worst case: one hop per round)
    // converges in O(log diameter) materializations instead of
    // O(diameter). Invariants it preserves, both needed below: every
    // label is a node id present in the label table (the inner self-
    // join is total — self-loops give every node an incoming edge),
    // and labels stay monotone non-increasing (lbl(x) ≤ x always, so
    // lbl(lbl(n)) ≤ lbl(n)) — the sum-based convergence probe
    // survives. Engaged only when the graph has already proven DEEP
    // (not converged by round 6): dup graphs are diameter-1 dominated
    // and converge in the first materialization, so the common path
    // never pays the self-join, and its plans — and therefore every
    // green hash — are untouched.
    def jump(l: DataFrame): DataFrame = l
      .join(l.select(col("node").as("_jn"), col("lbl").as("_jl")),
        col("lbl") === col("_jn"))
      .select(col("node"), col("_jl").as("lbl"))
    // The per-MATERIALIZATION cost (job scheduling, AQE planning, the
    // convergence action) dwarfs the per-ROUND data work on any
    // realistically-sparse dup graph, so rounds are COMPOSED: each
    // materialization stacks `depth` propagation joins into one plan
    // (2, then 4, then 8 per step — past-fixpoint rounds are no-ops,
    // so overshooting is free). Convergence is decided INSIDE the same
    // job via two `observe` probes: labels are monotone non-increasing,
    // so penultimate-round sum == final-round sum ⇔ the last round
    // moved nothing ⇔ the final frame is the fixpoint. Dup-graph
    // components are dominated by DIAMETER-1 pairs (a doc and its
    // near-copy), so depth 2 usually converges in ONE materialization
    // — probe = round-1 sum, final = round-2 sum — at 4 shuffle
    // stages; each extra propagate is 2 more sequential stages of
    // fixed scheduling cost on an O(collisions) frame, which is why
    // depth starts minimal and only grows when a deep component is
    // actually present (the round-4 shape spent 2 jobs per
    // materialization × 2 materializations on the same graphs).
    var converged = false
    var round = 0
    var sinceCheckpoint = 0
    var depth = 2
    val generations = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val out =
    try {
    while (!converged && round < maxIter) {
      // jump on the MATERIALIZED label frame only (self-joining a lazy
      // composed chain would replay its whole subtree twice — `labels`
      // is cached, so even the second jump's replay of the first is an
      // in-memory join); round ≥ 6 means two materializations failed
      // to converge — a deep component is present and the geometric
      // path pays for itself. TWO jumps per materialization: reach
      // recurrence r → 4r + depth, which closes a diameter-35000 chain
      // inside the default 50-round budget (one jump's 2r + depth
      // tops out at ~900 — measured one materialization short on a
      // 1000-chain).
      var cur = if (round >= 6) jump(jump(labels)) else labels
      (1 until depth).foreach(_ => cur = propagate(cur))
      val probeN = s"cc_probe_${obsId.incrementAndGet()}"
      val finalN = s"cc_final_${obsId.incrementAndGet()}"
      val nextF = propagate(cur.observe(probeN, lblSum))
        .observe(finalN, lblSum)
      sinceCheckpoint += depth
      // localCheckpoint every ~16 composed rounds truncates the
      // growing lineage (in-loop unpersist of a parent cache is NOT
      // safe — dependents may lazily recompute through it — so caches
      // stay alive until after the final checkpoint below)
      val (next, qe, rowCount) = if (sinceCheckpoint >= 16) {
        sinceCheckpoint = 0
        val cp = nextF.localCheckpoint(true)
        (cp, nextF.queryExecution, -1L) // count unknown on this path
      } else {
        val n = nextF.persist()
        val agg = n.agg(count(lit(1))) // materializes the cache
        val cnt = agg.head().getLong(0)
        (n, agg.queryExecution, cnt)
      }
      val m = qe.observedMetrics
      converged = (m.get(probeN), m.get(finalN)) match {
        case (Some(p), Some(f)) => p.get(0) == f.get(0)
        case _ =>
          // probes legitimately vanish when PropagateEmptyRelation
          // proved the frame empty (an empty label table IS a fixpoint)
          val empty = if (rowCount >= 0) rowCount == 0 else next.isEmpty
          if (empty) true
          else {
            // Probes missing over a NON-empty frame means Spark stopped
            // surfacing CollectMetrics through this execution shape
            // (cache scan / localCheckpoint — internal behavior that a
            // Spark upgrade could change). Faking convergence would
            // corrupt the clustering, and aborting would turn every CC
            // call into a runtime error; instead decide convergence the
            // slow-but-spec'd way: explicit aggregates over the
            // penultimate frame (replays its composed chain once) and
            // the materialized final frame.
            val p = cur.agg(lblSum).head().getDecimal(0)
            val f = next.agg(lblSum).head().getDecimal(0)
            p.compareTo(f) == 0
          }
      }
      generations += labels
      labels = next
      round += depth
      depth = math.min(depth * 2, 8)
    }
    // silent truncation would corrupt the dedup result downstream
    // (non-minimal cluster_ids, several keep=1 rows per component) —
    // pathological graphs (diameter > maxIter) must fail loudly
    require(converged, s"connectedComponents did not converge within " +
      s"$maxIter rounds; raise maxIter for pathological pair graphs " +
      "(pointer jumping makes each extra round count geometrically)")
    // detach the result from the generation caches (one cheap job over
    // the O(nodes) label table) — the finally then releases them
    labels.localCheckpoint(true)
    } finally {
      // release every intermediate on BOTH paths: the non-convergence
      // require (and any mid-loop failure) must not leak the persisted
      // base/edges/labels/generations into the cache manager
      generations.foreach(g => g.unpersist())
      labels.unpersist()
      edges.unpersist()
      releaseBase()
    }
    out.select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
      when(col("node") === col("lbl"), 1L).otherwise(0L).as("keep"))
  }

  /** Driver-side union-find over a COLLECTED edge list (the
    * [[connectedComponents]] small-graph fast path — see its scaladoc
    * for the threshold contract). `edges` is any two-id-column frame
    * whose rows name every undirected pair at least once in either
    * direction — the raw (d1, d2) pair projection suffices: both
    * endpoints register the nodes, symmetric mirrors and self-loops
    * (if present) are no-op re-unions. Union-by-minimum keeps every
    * DSU root the minimum id of its component — find() IS the cluster
    * label, the exact semantics of the distributed min-label loop.
    * Output schema matches the loop's: (doc_id <id type>,
    * cluster_id <id type>, keep long). */
  private def localComponents(spark: SparkSession, edges: DataFrame,
      intIds: Boolean): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    // toLocalIterator would re-run per-partition jobs against the same
    // cache; one collect of a threshold-bounded frame is the point
    edges.collect().foreach { row =>
      // a null endpoint never unions anything (the loop's equi-joins
      // likewise never propagate through null); the non-null side
      // still registers as a singleton node. Id columns are non-null
      // at every call site, so this is pure defense
      if (row.isNullAt(0) || row.isNullAt(1)) {
        Seq(0, 1).filterNot(row.isNullAt).foreach { i =>
          val v = if (intIds) row.getInt(i).toLong else row.getLong(i)
          parent.putIfAbsent(v, v)
        }
      }
      else {
      val (s, d) =
        if (intIds) (row.getInt(0).toLong, row.getInt(1).toLong)
        else (row.getLong(0), row.getLong(1))
      parent.putIfAbsent(s, s)
      parent.putIfAbsent(d, d)
      if (s != d) {
        val (rs, rd) = (find(s), find(d))
        if (rs < rd) parent.put(rd, rs)
        else if (rd < rs) parent.put(rs, rd)
      }
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row](parent.size)
    parent.keySet.forEach { n =>
      val root = find(n)
      val keep = if (n == root) 1L else 0L
      out += (if (intIds)
        org.apache.spark.sql.Row(n.intValue(), root.toInt, keep)
      else org.apache.spark.sql.Row(n.longValue(), root, keep))
    }
    val idT: org.apache.spark.sql.types.DataType =
      if (intIds) org.apache.spark.sql.types.IntegerType
      else org.apache.spark.sql.types.LongType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idT, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id", idT,
        nullable = false),
      org.apache.spark.sql.types.StructField("keep",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), schema)
  }

  /** End-to-end dedup APPLICATION — the step that actually produces a
    * training corpus: exact dedup first (cheap, digest group-by), then
    * MinHash-LSH near-dup detection on the exact survivors, clusters
    * via [[connectedComponents]], and only each cluster's canonical
    * (minimum-id) member survives. Returns the surviving doc ids.
    *
    * Scale shape: exact elimination is ONE digest-keyed shuffle that
    * directly yields the surviving rows — `groupBy(fp)` keeping
    * min(doc_id) and the (identical within a group) text. The
    * [[exact]]+semi-join-back formulation shuffles the corpus text
    * TWICE (once by digest for the verdicts, once by doc_id to apply
    * them); collapsing verdict+apply into the one aggregation halves
    * the corpus movement. The final near-dup elimination is a LEFT
    * ANTI join against the non-canonical cluster members — O(LSH
    * collisions) rows, always broadcast-able. `kept` is persisted: it
    * feeds both the near-dup detector and the final anti-join, and is
    * released after the result's first materialization. The pair list
    * is persisted for the eager count and clustering below, and
    * released as soon as clustering returns. */
  def dedupedCorpus(corpus: DataFrame, spark: SparkSession,
      shingleK: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val kept = corpus
      .select(sha2(col("text"), 256).as("fp"), col("doc_id"), col("text"))
      .groupBy(col("fp"))
      // texts within a digest group are identical, so first() is
      // deterministic here
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select(col("doc_id"), col("text"))
      .persist()
    // persisted: connectedComponents' edge table and its convergence
    // loop would otherwise replay the verify join per materialization
    val pairs = minhashNearDups(kept, spark, shingleK, numPerms,
      rowsPerBand, threshold).select(col("d1"), col("d2")).persist()
    // Materialize the pair cache eagerly (CC's first job would do it
    // lazily anyway) so the LSH bucket-cap observe metric is readable
    // HERE: over-cap buckets degrade to star pairs, which can reduce
    // near-dup recall (see lshCandidates), and an end-to-end corpus
    // build should say so out loud rather than silently return a
    // slightly under-deduplicated corpus.
    val pairsAgg = pairs.agg(count(lit(1)))
    pairsAgg.head()
    val overflow = pairsAgg.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("lsh_buckets_") =>
        row.getAs[Long]("overflow_buckets")
    }.sum
    if (overflow > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupedCorpus: $overflow LSH bucket(s) exceeded the pair cap " +
          "and were star-expanded; near-dup recall inside those buckets " +
          "may be reduced (raise maxBucket for full recall)")
    // connectedComponents is eager and its output is local or
    // checkpointed, so nothing reads the pair cache after it returns
    val nonCanonical = try connectedComponents(pairs)
      .where(col("keep") === 0).select(col("doc_id"))
    finally pairs.unpersist()
    // explicit broadcast: the CC output is checkpoint-backed (no
    // catalog stats), so the planner would otherwise default this
    // O(collisions)-row side to a full sort-merge join of the corpus
    val result = kept.join(broadcast(nonCanonical), Seq("doc_id"),
      "left_anti").select(col("doc_id"))
    CacheLifecycle.unpersistAfterFirstUse(result, kept)
    result
  }

  /** Quality-aware canonical pick over dup clusters — the keep rule
    * production dedup actually wants: within each near-dup cluster
    * ([[connectedComponents]] output), keep the member with the BEST
    * quality margin ([[TextStats.classifierScore]]'s integer margin —
    * or any long score), not the smallest id; min-id keeps whichever
    * copy was crawled first, which is routinely the boilerplate-laden
    * one. Ties break to the smallest doc_id, so the choice is total
    * and engine-reproducible (margins are exact int64 — no float
    * argmax ambiguity). Emits the full cluster audit: every member
    * with its margin, the cluster's winner, and the keep verdict.
    *
    * Scale shape: `clusters` is O(dup-cluster members) — collisions,
    * not corpus — so it BROADCASTS into the corpus-wide quality frame
    * (the join never shuffles the scores), the per-cluster argmax is
    * one bounded struct-max aggregate over the member frame, and the
    * winner table (one row per cluster) broadcasts back. Zero
    * corpus-sized shuffles, no windows. */
  def bestQualityKeep(clusters: DataFrame, quality: DataFrame): DataFrame =
    bestQualityKeep(clusters, quality, MembersPersistMinBytes)

  /** Estimated `quality` bytes from which [[bestQualityKeep]] persists
    * its members frame: between p65's quality estimate at sf0.1
    * (354 KB, where the persist loses) and at sf1 (3.5 MB, where it
    * starts to win) — see the measurements in [[bestQualityKeep]]. */
  val MembersPersistMinBytes: Long = 2L << 20

  /** [[bestQualityKeep]] with its persist gate at `persistMinBytes`
    * (specs force the persist branch on tiny fixtures). */
  private[operators] def bestQualityKeep(clusters: DataFrame,
      quality: DataFrame, persistMinBytes: Long): DataFrame = {
    // members feeds BOTH the per-cluster argmax (the broadcast build
    // side) and the final audit join — unpersisted the `quality`
    // subtree runs twice per materialization, and quality is typically
    // a FULL-CORPUS classifier pass (the r17 p65 plan shows the
    // classifierScore scan+projection as two identical legs). The
    // persist is SIZE-GATED on the quality input's estimated bytes.
    // Measured on p65 (graft.Bench, persist forced vs not, ABBA/BAAB
    // order, 4-core host): sf0.1 2.66/2.61 s vs 2.57/2.57 s — and
    // 1.3–1.4× slower in the r18 ladder — so small inputs re-scan;
    // sf1 3.92/3.99 s vs 4.87/3.99 s; sf3 8.46/9.55 s vs 11.79/11.67 s;
    // sf10 24.11/23.53 s vs 31.66/29.09 s — past the gate the persist
    // saves a full corpus classifier pass.
    // Results are identical either way (the cached frame is thin:
    // doc_id, margin, cluster_id — cluster MEMBERS only after the inner
    // join), released by the one-shot listener at the result's first
    // materialization.
    val qSmall = quality.queryExecution.optimizedPlan.stats.sizeInBytes <
      persistMinBytes
    val membersBase = quality.select(col("doc_id"), col("margin"))
      .join(broadcast(clusters.select(col("doc_id"), col("cluster_id"))),
        Seq("doc_id"))
    val members = if (qSmall) membersBase else membersBase.persist()
    val best = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("margin"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("cluster_id"), col("b.margin").as("best_margin"),
        (-col("b.nd")).as("keep_id"))
    val result = members.join(broadcast(best), Seq("cluster_id"))
      .select(col("cluster_id"), col("doc_id"), col("margin"),
        col("keep_id"), (col("doc_id") === col("keep_id")).as("keep"))
    if (!qSmall) CacheLifecycle.unpersistAfterFirstUse(result, members)
    result
  }

  /** Incremental dedup: admit only the docs of a NEW batch that are
    * neither exact copies nor near-duplicates of an EXISTING corpus —
    * the daily-ingest shape (batch ≪ corpus), where re-running
    * whole-corpus self-dedup per increment would rescan everything.
    * Returns the surviving new doc ids.
    *
    * Scale shape: exact elimination is an anti-join of the batch's
    * digests against the corpus digests (digest column only — the
    * corpus text never moves); near-dup elimination is a TWO-CORPUS
    * LSH band join — batch band keys ⋈ corpus band keys (collisions
    * only, never batch × corpus), verified by exact Jaccard on the
    * in-row shingle-id sets carried with each side. The corpus side
    * streams through one projection per run; at true scale the corpus
    * bands/digests are precomputed once and persisted as tables, so
    * an increment touches only the band-key join. */
  def incrementalDedup(newDocs: DataFrame, existing: DataFrame,
      spark: SparkSession, shingleK: Int = 3, numPerms: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    graft.functions.PolyHash31.register(spark)
    // exact: batch digest anti-join against corpus digests
    val exDigests = existing.select(sha2(col("text"), 256).as("fp"))
      .distinct()
    val eb = bandsWithSets(existing, shingleK, numPerms, rowsPerBand)
      .select(col("doc_id").as("eid"), col("tids").as("et"),
        col("band"), col("bkey"))
    incrementalCore(newDocs, exDigests, eb, shingleK, numPerms,
      rowsPerBand, threshold)
  }

  /** [[incrementalDedup]] against PRECOMPUTED corpus state written by
    * [[writeDedupState]] — the true-scale shape the two-frame form's
    * scaladoc promises: the corpus text is never rescanned, an
    * increment reads only the persisted digest column and band table.
    * Shingling/banding parameters come from the state's meta table, so
    * the batch side is always banded compatibly with the corpus side. */
  def incrementalDedup(newDocs: DataFrame, stateRoot: String,
      spark: SparkSession, threshold: Double): DataFrame = {
    graft.functions.PolyHash31.register(spark)
    val meta = spark.read.parquet(s"$stateRoot/dedup_meta").head()
    val (k, p, r) = (meta.getAs[Int]("shingle_k"),
      meta.getAs[Int]("num_perms"), meta.getAs[Int]("rows_per_band"))
    val exDigests = spark.read.parquet(s"$stateRoot/dedup_digests")
    val eb = spark.read.parquet(s"$stateRoot/dedup_bands")
      .select(col("doc_id").as("eid"), col("tids").as("et"),
        col("band"), col("bkey"))
    incrementalCore(newDocs, exDigests, eb, k, p, r, threshold)
  }

  /** Persist the corpus-side dedup state for [[incrementalDedup]]:
    * `root/dedup_digests` (distinct text sha-256, column `fp`),
    * `root/dedup_bands` (doc_id, in-row shingle-id set, band, bkey —
    * repartitioned on `bkey` so a band key's rows co-locate in few
    * files), and `root/dedup_meta` (the shingle/permutation parameters
    * the state was built with). Computed once per corpus version; each
    * daily increment then touches only the band-key join — never the
    * corpus text. */
  def writeDedupState(corpus: DataFrame, root: String, shingleK: Int = 3,
      numPerms: Int = 16, rowsPerBand: Int = 4): Unit = {
    val spark = corpus.sparkSession
    graft.functions.PolyHash31.register(spark)
    corpus.select(sha2(col("text"), 256).as("fp")).distinct()
      .write.mode("overwrite").parquet(s"$root/dedup_digests")
    bandsWithSets(corpus, shingleK, numPerms, rowsPerBand)
      .repartition(col("bkey"))
      .write.mode("overwrite").parquet(s"$root/dedup_bands")
    import spark.implicits._
    Seq((shingleK, numPerms, rowsPerBand))
      .toDF("shingle_k", "num_perms", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/dedup_meta")
  }

  /** Shingle-id sets + minhash band keys carried in-row — the banding
    * shape both incremental-dedup sides share. */
  private def bandsWithSets(docs: DataFrame, shingleK: Int,
      numPerms: Int, rowsPerBand: Int): DataFrame =
    TextOps.shingleIdSets(docs, shingleK)
      .withColumn("sig", expr(s"minhash_sigs(tids, $numPerms)"))
      .select(col("doc_id"), col("tids"),
        posexplode(array(sigBandKeys(numPerms, rowsPerBand): _*))
          .as(Seq("band", "bkey")))

  /** Shared incremental-dedup core: batch digests anti-join corpus
    * digests, then batch bands ⋈ corpus bands (collisions only) with
    * in-row Jaccard verify. */
  private def incrementalCore(newDocs: DataFrame, exDigests: DataFrame,
      eb: DataFrame, shingleK: Int, numPerms: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // feeds both the banding and the final anti-join; released after
    // the result's first materialization
    val fresh = newDocs
      .withColumn("fp", sha2(col("text"), 256))
      .join(exDigests, Seq("fp"), "left_anti")
      .drop("fp").persist()
    val nb = bandsWithSets(fresh, shingleK, numPerms, rowsPerBand)
      .select(col("doc_id").as("nid"), col("tids").as("nt"),
        col("band"), col("bkey"))
    val nearDup = nb.join(eb, Seq("band", "bkey"))
      .withColumn("n_inter",
        size(array_intersect(col("nt"), col("et"))).cast("long"))
      .withColumn("n_union",
        size(col("nt")).cast("long") + size(col("et")) - col("n_inter"))
      .where(col("n_inter").cast("double") / col("n_union") >= threshold)
      .select(col("nid").as("doc_id")).distinct()
    val result = fresh.join(broadcast(nearDup), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    CacheLifecycle.unpersistAfterFirstUse(result, fresh)
    result
  }

  /** Chunk-level exact dedup stats: split each doc into aligned
    * `k`-word chunks, digest each chunk, and report per doc how many
    * of its chunks also occur (byte-identical) in at least one OTHER
    * doc — the exact-substring-duplication signal used to strip
    * boilerplate that survives whole-document dedup (license headers,
    * navigation chrome, templated intros).
    *
    * Scale shape: only (doc_id, 32-byte digest) rows ever shuffle —
    * the text stays in its scan. The digest-count aggregate's output
    * is hash-partitioned on the digest, so the postings⋈counts join
    * reuses that layout (one side's exchange elided); nothing is
    * all-pairs and no per-digest doc list is ever materialized.
    * A trailing partial chunk (< k words) is not counted — aligned
    * full chunks only, matching the oracle. */
  def chunkDupStats(corpus: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0)
    // persisted: the chunk-digest projection feeds the counts
    // aggregate AND the join probe — unpersisted, the corpus
    // scan+split+per-chunk sha2 ran twice per materialization. Thin
    // rows (doc_id, 32-byte digest), the measured-good persist shape;
    // released after the result's first materialization.
    val ch = corpus
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(ts) div $k),
           |  i -> sha2(array_join(slice(ts, (i - 1) * $k + 1, $k), ' '),
           |    256))""".stripMargin)).as("d"))
      .persist()
    val counts = ch.groupBy(col("d"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val result = ch.join(counts, Seq("d"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_chunks"))
    CacheLifecycle.unpersistAfterFirstUse(result, ch)
    result
  }

  /** Corpus-wide boilerplate REMOVAL — the rewrite step that
    * [[chunkDupStats]] only measures: split each doc into aligned
    * `k`-token chunks (trailing partial chunk INCLUDED — a rewrite
    * must not lose text), count each chunk's corpus document
    * frequency, and re-emit every document with its over-shared
    * chunks stripped (CCNet-style paragraph dedup, reference quality
    * pipelines strip repeated lines the same way: a chunk appearing
    * in more than `maxDocFreq` distinct docs is navigation chrome /
    * license header / templated filler, not content).
    *
    * Output per doc: `n_chunks`, `n_dropped`, and `kept_text` (the
    * surviving chunks re-joined in document order; `""` when every
    * chunk was boilerplate — the doc row itself always survives so
    * the caller can count fully-stripped docs).
    *
    * Scale shape — built around the fact that this operator's WHOLE
    * POINT is hot chunks (a header shared by every doc of a domain is
    * the Zipf head incarnate, and it is exactly what must be found):
    *  - document frequency travels as (32-byte digest, doc_id) rows —
    *    the text never enters the count — through a SALTED two-phase
    *    aggregate ([[SkewOps.saltedAgg]], salt = hash(doc_id)): a
    *    digest present in a million docs spreads its count over
    *    `buckets` reducers instead of parking a million rows on one
    *    (doc_id-derived salt keeps the partial distinct exact: one
    *    doc's pairs land in one bucket, so bucket counts add);
    *  - the flagging join BROADCASTS the filtered boilerplate digest
    *    set, so the chunk text is never shuffled on the digest and a
    *    100%-hot digest costs nothing on the probe side. Boilerplate
    *    digests are few BY DEFINITION — each needs > maxDocFreq
    *    distinct docs, so their count is ≤ chunks/(maxDocFreq+1) and
    *    in practice orders of magnitude below it (chrome/headers are
    *    few distinct strings repeated everywhere); a corpus where most
    *    DISTINCT chunks are shared is a dedup job (p01/p30), not a
    *    boilerplate strip. The corpus is scanned twice (count +
    *    rewrite) — cheaper at scale than shuffling chunk text on the
    *    digest, which the joined formulation pays;
    *  - the rewrite shuffles text exactly ONCE, on the final doc_id
    *    regroup; per-doc state is bounded by document length. */
  def stripBoilerplate(corpus: DataFrame, k: Int = 8,
      maxDocFreq: Long = 1L): DataFrame = {
    require(k > 0, s"chunk size must be positive, got $k")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // null text tokenizes as "" (one empty chunk) so the doc row
    // survives the rewrite, as promised — packTokenBudget makes the
    // same choice (null text keeps its slot at 0 tokens)
    // persisted: the chunk+digest projection feeds the salted df
    // aggregate AND the flagging join probe — unpersisted, the corpus
    // scan+split+chunk transform+per-chunk sha2 ran twice per
    // materialization. Rows carry the chunk text (needed by the
    // rewrite side), so this is the WIDEST persist of the r17 batch —
    // gated by the same-window sf1 A/B like the rest; released after
    // the result's first materialization.
    // Storage level is SIZE-GATED on the corpus (r18, ADVICE): a
    // deserialized in-memory copy of the full chunk text roughly
    // doubles the corpus working set at scale, so past the gate the
    // cache goes DISK_ONLY (still one tokenize+sha2 pass instead of
    // two). The bench corpus stays far under the gate.
    val ch = corpus
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("ts"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, cast(ceil(size(ts) / ${k}.0D) as int)),
           |  i -> array_join(slice(ts, (i - 1) * $k + 1, $k), ' '))"""
          .stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("ci"),
        col("col").as("chunk"))
      .withColumn("d", sha2(col("chunk"), 256))
      .persist(CacheLifecycle.textStorageLevel(corpus))
    val buckets = SkewOps.defaultBuckets(corpus)
    val boil = SkewOps.saltedAgg(ch.select(col("d"), col("doc_id")),
      keys = Seq("d"), saltFrom = "doc_id", buckets = buckets,
      partials = Seq(countDistinct(col("doc_id")).as("nd_p")),
      merges = Seq(sum(col("nd_p")).as("nd")))
      .where(col("nd") > maxDocFreq)
      .select(col("d"), lit(true).as("_boil"))
    val result = ch.join(broadcast(boil), Seq("d"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_boil"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls the unmatched `when` leaves, so
        // only surviving chunks enter the buffer; sort_array orders the
        // (ci, chunk) structs by the in-doc chunk index — deterministic
        // regardless of arrival order
        sort_array(collect_list(when(col("_boil").isNull,
          struct(col("ci"), col("chunk"))))).as("kept"))
      .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
        array_join(expr("transform(kept, x -> x.chunk)"), " ")
          .as("kept_text"))
    CacheLifecycle.unpersistAfterFirstUse(result, ch)
    result
  }

  /** Winnowing fingerprint sets (the MOSS selection rule): hash every
    * 4-gram, slide a `w`-gram window, keep each window's MINIMUM hash,
    * dedup — the shift-ROBUST exact-substring signal ([[chunkDupStats]]
    * is the aligned, cheaper cousin: drop three words from a copy and
    * chunks stop matching, while winnowed fingerprints still mostly
    * agree, because any shared run of ≥ w+3 tokens shares a selected
    * minimum). Reports per doc the fingerprint-set size and how many
    * fingerprints other docs also selected.
    *
    * Scale shape mirrors [[chunkDupStats]]: gram hashing and window
    * minima are IN-ROW array transforms (one codegen projection over
    * the corpus), and only (doc_id, 8-byte fingerprint) rows shuffle —
    * the counts join reuses the aggregate's partitioning. */
  def winnowStats(corpus: DataFrame, spark: SparkSession,
      w: Int = 4): DataFrame = {
    require(w >= 2, s"window must be >= 2 grams, got $w")
    graft.functions.PolyHash31.register(spark)
    val fps = corpus
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 4 + (w - 1)) // one full window of 4-grams
      .select(col("doc_id"),
        expr("transform(ws, x -> poly_hash31(x))").as("tids"))
      // same 31-combine + mod as [[fingerprint]]/p05, per gram
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, size(tids) - 3), i ->
           |  (((element_at(tids, i) * 31 + element_at(tids, i + 1)) * 31
           |    + element_at(tids, i + 2)) * 31
           |    + element_at(tids, i + 3)) % ${HashP}L)""".stripMargin)
        .as("hs"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(hs) - ${w - 1}),
           |  i -> array_min(slice(hs, i, $w))))""".stripMargin)).as("fp"))
      // persisted: the fingerprint projection (the operator's dominant
      // per-row work — per-token hash, 31-combine per gram, window
      // minima) feeds the counts aggregate AND the join probe —
      // unpersisted it ran twice per materialization. Thin (doc_id,
      // long) rows; released after first materialization.
      .persist()
    // (doc_id, fp) pairs are unique after the in-row array_distinct,
    // so a plain count equals countDistinct(doc_id) without the
    // distinct aggregate's expand phase
    val cnt = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
    val result = fps.join(cnt, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_fps"))
    CacheLifecycle.unpersistAfterFirstUse(result, fps)
    result
  }

  /** Cross-document repeated n-gram span removal — the REWRITE form of
    * exact-substring dedup (Lee et al. 2022's "Deduplicating Training
    * Data Makes Language Models Better", at n-gram granularity): any
    * n-token gram occurring in ≥ 2 DISTINCT documents marks its
    * [start, start+n) token span for removal in every document, spans
    * merge where they overlap (a shared run of m ≥ n tokens yields
    * m−n+1 overlapping grams but removes exactly m tokens), and each
    * doc is re-emitted with the surviving tokens re-joined in order.
    *
    * Differs from [[stripBoilerplate]] (aligned non-overlapping chunks,
    * df above a HIGH threshold → tiny broadcastable digest set) on both
    * axes: grams SLIDE so a copy shifted by one word still matches, and
    * the df≥2 threshold makes the shared-gram set corpus-sized — so the
    * flagging join cannot broadcast and instead goes through
    * [[SkewOps.hotSaltedJoin]] (left variant): stop-phrase grams that
    * occur everywhere spread over salt buckets instead of parking on
    * one reducer.
    *
    * Scale shape:
    *  - gram hashing is IN-ROW (one codegen projection: per-token
    *    poly_hash31, then the 31-combine over a sequence transform —
    *    same recurrence as [[winnowStats]]/p35, so the oracle can
    *    replay it with window leads);
    *  - only (doc_id, pos, 8-byte gram hash) rows shuffle into the df
    *    aggregate and the flagging join — never token text;
    *  - span merging is a running `max(start)` window PARTITIONED BY
    *    doc_id (linear, parallel across docs; a token is covered iff
    *    the latest shared start at-or-before it is < n tokens back);
    *  - the final regroup shuffles each doc's tokens once, bounded by
    *    document length.
    */
  def scrubRepeatedNgrams(corpus: DataFrame, spark: SparkSession,
      n: Int = 5): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    graft.functions.PolyHash31.register(spark)
    // mod at EVERY step, not just the end: modular reduction
    // distributes over the recurrence (identical final value when the
    // unreduced fold fits), and the end-only form overflows int64 at
    // n >= 8 — an ArithmeticException under Spark 4's default ANSI
    // mode. Per-step keeps every intermediate < 31·2³¹ for ANY n.
    val combine = (1 until n).foldLeft("element_at(tids, i)") {
      case (acc, k) =>
        s"(($acc * 31 + element_at(tids, i + $k)) % ${TextOps.HashP}L)"
    }
    // (doc_id, pos, token, gram-hash-starting-here | null)
    // persisted: the gram-hash projection (per-token poly_hash31 + the
    // 31-combine per position — the operator's dominant per-row work)
    // feeds the shared-gram aggregate AND the flagging probe —
    // unpersisted it ran twice per materialization (plus once more in
    // the skew gate's plan-time job on a cold gate cache). Rows are
    // (doc_id, pos, token, long); released after the result's first
    // materialization.
    val occ = corpus
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ")
        .as("ws"))
      .withColumn("tids", expr("transform(ws, x -> poly_hash31(x))"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(ws)), i -> struct(
           |  element_at(ws, i) as w,
           |  case when i <= size(ws) - ${n - 1}
           |       then $combine % ${TextOps.HashP}L end as h))"""
          .stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col.w").as("w"), col("col.h").as("h"))
      .persist()
    val shared = occ.where(col("h").isNotNull)
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
    val flagged = SkewOps.hotSaltedJoin(occ, shared, "h",
      saltFrom = "doc_id", buckets = SkewOps.defaultBuckets(corpus),
      weightCol = "nd", joinType = "left")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val result = flagged
      .withColumn("ls",
        max(when(col("nd").isNotNull, col("pos"))).over(win))
      .withColumn("covered",
        col("ls").isNotNull && col("pos") < col("ls") + n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("n_removed"),
        sort_array(collect_list(when(!col("covered"),
          struct(col("pos"), col("w"))))).as("kept"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        (col("n_removed").cast("double") / col("n_tokens"))
          .as("removed_frac"),
        array_join(expr("transform(kept, x -> x.w)"), " ").as("kept_text"))
    CacheLifecycle.unpersistAfterFirstUse(result, occ)
    result
  }

  /** Corpus version diff by content digest: per doc_id across two
    * corpus versions, `added` / `removed` / `changed` / `unchanged` —
    * the lineage record an ingest audit needs ("what did this refresh
    * actually do"). One full-outer join of the two digest projections;
    * text never shuffles, 32-byte digests do. */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    // presence is tracked by explicit flags, NOT digest nullness — a
    // null-text doc hashes to a null digest and would masquerade as
    // absent; likewise the digest compare is null-safe so two
    // null-text versions of a doc read as unchanged
    val o = oldCorpus.select(col("doc_id"),
      sha2(col("text"), 256).as("old_fp"), lit(true).as("_in_old"))
    val n = newCorpus.select(col("doc_id"),
      sha2(col("text"), 256).as("new_fp"), lit(true).as("_in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(col("old_fp") <=> col("new_fp"), "unchanged")
          .otherwise("changed"))
      .drop("_in_old", "_in_new")
  }

  /** Count-weighted 16-bit SimHash per doc. Bit j's token hash is a
    * quadratic threshold hash ((a_j·t² + b_j·t + j) mod 8191 < 4096 →
    * +1 else −1), weighted by token multiplicity; a linear-parity hash
    * degenerates (every token votes identically on odd bits).
    *
    * All `bits` signed sums are states of ONE hash aggregate (the bit
    * index is a plan-time constant, like minhashSignatures' perms) —
    * a bits-table crossJoin materializes tokens×bits rows and needs a
    * second aggregation to re-pack them; at 100 TB that ×16 blowup is
    * the difference between one map-side-combined pass and two full
    * shuffles of a multiplied table. Bit-pack is a final projection.
    *
    * Token ids are `poly_hash31(w) mod 8191` — NO vocabulary: the
    * threshold hash already works mod 8191, and x ≡ x' (mod m) makes
    * every quadratic-hash vote identical whether ids are dense ranks
    * or the reduced content hash, so the id table, its distinct, its
    * sort, and its join all disappear (ids stay < 8191, so a·t² is
    * nowhere near overflow). Colliding words vote together — the same
    * measure-zero signature fuzz in both engines. */
  def simhash(corpus: DataFrame, spark: SparkSession, bits: Int = 16): DataFrame = {
    graft.functions.PolyHash31.register(spark)
    // count weighting is IMPLICIT: summing each occurrence's ±1 vote
    // equals Σ_distinct-words c·vote, so no (doc_id, word) pre-count —
    // the only shuffle left is the per-doc signed-sum aggregate on
    // narrow (long, long) rows (the count formulation shuffled the
    // token STRINGS and aggregated twice; the oracle keeps it for
    // readability — same numbers either way)
    val dt = TextOps.tokens(corpus).select(col("doc_id"),
      pmod(expr("poly_hash31(w)"), lit(8191L)).as("tid"))
    val sums = (0 until bits).map { j =>
      sum(when(
        (lit(1 + 2 * j) * col("tid") * col("tid")
          + lit(17 + 5 * j) * col("tid") + lit(j)) % 8191 < 4096,
        1).otherwise(-1)).as(s"s$j")
    }
    dt.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** SimHash Hamming-ball near-dup pairs — the JOIN that turns
    * [[simhash]]'s per-doc fingerprint into actual duplicate pairs:
    * every (d1, d2) whose fingerprints differ in at most `maxDist` of
    * the `bits` positions. Candidate generation is the pigeonhole
    * block index (the shape Manku/Jain/Sarma's WWW'07 web-crawl dedup
    * made standard): split the fingerprint into `maxDist + 1`
    * contiguous blocks — a pair inside the ball has at most `maxDist`
    * differing bits, so at least one block matches EXACTLY — index
    * each doc once per block, equi-join collisions on (block index,
    * block value), verify with the exact popcount-of-xor inside the
    * join stage, and collapse pairs that collided in several blocks
    * with one distinct. The result is exactly the Hamming ball: the
    * blocking is recall-lossless by pigeonhole, so the oracle is the
    * plain all-pairs predicate.
    *
    * Scale shape: the posting table is (maxDist+1) narrow
    * (int, long, long) rows per doc — the corpus text never moves,
    * and unlike the LSH family there is no token explosion at all.
    * The equi-join shuffles postings on the block key; the popcount
    * verify runs in the bucket's own stage so only true ball members
    * reach the pair distinct.
    *
    * Degenerate buckets (a fingerprint region constant across the
    * corpus — e.g. near-empty docs all voting to 0) are quadratic by
    * the technique's definition — exactly [[lshCandidates]]' regime,
    * so the same defence applies: buckets larger than `maxBucket`
    * expand as a STAR around the minimum doc id instead of
    * all-pairs, with the same recall caveat (an over-cap member
    * pairs only with the anchor; B~C inside an over-cap bucket is
    * found only via the anchor, so a distant-from-anchor member's
    * pairs are missed — raise `maxBucket` for full recall) and the
    * same `observe` accounting (`hamming_buckets_<n>`:
    * overflow_buckets / max_bucket_size). The curation-scale knob is
    * `bits` — at 100 TB run 63-bit fingerprints so each block spans
    * ≥ 15 bits and buckets stay selective — while the oracled 16-bit
    * form keeps the DuckDB replica's `1 << j` arithmetic tiny.
    * Fingerprints ride inside the posting rows, so the popcount
    * verify needs no join back to the fingerprint table. */
  def simhashHammingDups(corpus: DataFrame, spark: SparkSession,
      bits: Int = 16, maxDist: Int = 1,
      maxBucket: Int = 1000): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1,63], got $bits")
    require(maxDist >= 0 && maxDist + 1 <= bits,
      s"need maxDist+1 <= bits blocks, got maxDist=$maxDist bits=$bits")
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    val nb = maxDist + 1
    val base = bits / nb
    val rem = bits % nb
    val widths = (0 until nb).map(j => base + (if (j < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sh = simhash(corpus, spark, bits)
    val blockArr = array((0 until nb).map { j =>
      struct(lit(j).as("blk"),
        expr(s"shiftright(simhash, ${offsets(j)}) & " +
          s"${(1L << widths(j)) - 1}").as("bval"))
    }: _*)
    // (blk, bval, doc_id, simhash) postings — persisted: the bucket
    // stats and BOTH legs of the pair join read it. Released via
    // CacheLifecycle after the result's first action (same pattern as
    // polyCandidates' sets).
    val blocks = sh
      .select(col("doc_id"), col("simhash"), explode(blockArr).as("p"))
      .select(col("p.blk").as("blk"), col("p.bval").as("bval"),
        col("doc_id"), col("simhash")).persist()
    // per-bucket count + star anchor (min doc id) — O(buckets) rows,
    // co-partitioned with the join below (same grouping key), carrying
    // the overflow accounting the array shape used to observe
    val bs = blocks.groupBy(col("blk"), col("bval"))
      .agg(count(lit(1)).as("_n"), min(col("doc_id")).as("_anchor"))
      .where(col("_n") > 1)
      .observe(s"hamming_buckets_${obsId.incrementAndGet()}",
        sum(when(col("_n") > maxBucket, 1L).otherwise(0L))
          .as("overflow_buckets"),
        coalesce(max(col("_n")).cast("int"), lit(0))
          .as("max_bucket_size"))
    // pairs STREAM out of a bucket self-join (whole-stage codegen over
    // 16-byte rows) instead of exploding per-bucket pair ARRAYS — the
    // old shape materialized O(n²) structs in ONE row per bucket (a
    // near-cap 1000-doc bucket = ~500k structs ≈ 16 MB single array
    // value; allocation + GC dominated the round-13 sf1 tail at
    // 15.9 s). The capped star keeps its exact semantics as a join
    // predicate: inside an over-cap bucket only the anchor (minimum
    // doc id, always the smaller side of d1 < d2) emits pairs.
    val a = blocks.join(bs, Seq("blk", "bval"))
      .where(col("_n") <= maxBucket || col("doc_id") === col("_anchor"))
      .select(col("blk"), col("bval"),
        col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = blocks.select(col("blk"), col("bval"),
      col("doc_id").as("d2"), col("simhash").as("s2"))
    val result = a.join(b, Seq("blk", "bval"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(expr("s1 ^ s2")).cast("int").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
    CacheLifecycle.unpersistAfterFirstUse(result, blocks)
    result
  }

  /** Blocked n-gram (word-set) Jaccard: pairs within the same blocking
    * key only — never all-pairs. `blockCols` must exist in `docs`.
    *
    * Word SETS stay in-row: the self-join on the block key carries one
    * array per doc and each pair's intersection is one
    * `array_intersect` in the join's own stage. The alternative —
    * explode to token postings, equi-join on (block, word), re-count
    * per pair — shuffles doc-length× more rows into the join and
    * C(n,2)·overlap rows into a second aggregation; the array shape
    * shuffles only doc rows and was measured 5× faster at sf0.1 once
    * the scan was actually parallel (an earlier single-partition
    * measurement had it backwards). Both are quadratic within a block
    * by definition of the operator — the blocking key is the scale
    * contract, and `maxBlock` is its ENFORCEMENT: before any pair is
    * produced, one column-pruned count per block (a cheap aggregate —
    * the scan reads only `blockCols`) refuses LOUDLY if any block
    * exceeds the cap, instead of silently detonating O(n²) work. A
    * skewed blocking key — one fat `(lang, source)` block, exactly
    * what a 100 TB web corpus has — is an operator-contract violation,
    * not a slow query. Callers with skewed keys should use
    * [[minhashNearDups]] (same file): banded LSH is the sub-quadratic
    * near-dup path with no per-block size assumption. The default cap
    * (10 000 docs → ≤ 5×10⁷ pairs per block) bounds the worst block's
    * pair count to roughly one executor-core-minute; raise it only
    * with the quadratic cost understood.
    *
    * MEASURED AND REVERTED (round 14): a single-scan variant that
    * persisted the (blockCols, doc_id, ws) frame — guard counts over
    * the cache, both join legs reading it, singleton blocks gated by
    * the count frame — ran 2.7× SLOWER at sf1 (first action 7.6 →
    * 20.4 s, same window, identical output): three scans of the
    * deserialized columnar cache's wide array<string> rows plus an
    * extra fat-row sort for the gate join cost far more CPU than the
    * `split`+`array_distinct` recompute they avoid, because the
    * recompute runs inside whole-stage codegen over the parquet scan
    * while the cache scan materializes object arrays per row. The
    * guard's extra pass is column-pruned to `blockCols` — at any
    * scale it reads a small fraction of the bytes the pair join's two
    * full scans must read anyway. */
  def blockedJaccard(docs: DataFrame, blockCols: Seq[String],
      threshold: Double, maxBlock: Long = 10000L): DataFrame = {
    require(maxBlock > 0, "maxBlock must be positive")
    val fat = docs.select(blockCols.map(col): _*)
      .groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > maxBlock)
      .orderBy(col("n").desc).limit(1).collect()
    if (fat.nonEmpty) {
      val r = fat.head
      val key = blockCols.zipWithIndex
        .map { case (c, i) => s"$c=${r.get(i)}" }.mkString(", ")
      throw new IllegalArgumentException(
        s"blockedJaccard: block ($key) has ${r.getLong(blockCols.size)} " +
          s"docs > maxBlock=$maxBlock — within-block pairing is O(n²) " +
          "by contract and this block would detonate it. Use " +
          "Dedup.minhashNearDups (banded LSH, sub-quadratic) for skewed " +
          "blocking keys, or raise maxBlock knowingly.")
    }
    val base = docs.select(blockCols.map(col) :+ col("doc_id") :+
      array_distinct(split(col("text"), " ")).as("ws"): _*)
    val a = base.select(blockCols.map(col) :+ col("doc_id").as("d1")
      :+ col("ws").as("w1"): _*)
    val b = base.select(blockCols.map(col) :+ col("doc_id").as("d2")
      :+ col("ws").as("w2"): _*)
    a.join(b, blockCols).where(col("d1") < col("d2"))
      .withColumn("n_inter",
        size(array_intersect(col("w1"), col("w2"))).cast("long"))
      .withColumn("n_union",
        size(col("w1")).cast("long") + size(col("w2")) - col("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .where(col("jaccard") >= threshold)
      .select(blockCols.map(col) ++
        Seq(col("d1"), col("d2"), col("n_inter"), col("n_union"),
          col("jaccard")): _*)
  }

  /** Rolling-hash fingerprint: min over 4-gram polynomial hashes of the
    * token-id sequence (winnowing, the 1-fingerprint variant). Token
    * ids are content hashes ([[graft.functions.PolyHash31]]), so the
    * whole operator is ONE narrow projection: ids, 4-gram hashes, and
    * their min all happen in-row over the split array — no vocabulary,
    * no per-doc window shuffle+sort, no aggregation. (The windowed
    * formulation the oracle uses — explode, per-doc `lead` window,
    * groupBy — is three shuffles of the token table for the same
    * numbers.) Docs with < 4 tokens have no 4-grams and are dropped,
    * exactly like the window form's all-null `lead` rows. */
  def fingerprint(corpus: DataFrame): DataFrame = {
    graft.functions.PolyHash31.register(corpus.sparkSession)
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 4)
      .select(col("doc_id"),
        expr("transform(ws, w -> poly_hash31(w))").as("tids"))
      .select(col("doc_id"), expr(
        """transform(sequence(1, size(tids) - 3), i ->
          |  ((element_at(tids, i) * 31 + element_at(tids, i + 1)) * 31
          |    + element_at(tids, i + 2)) * 31
          |    + element_at(tids, i + 3))""".stripMargin).as("hs"))
      .select(col("doc_id"),
        expr(s"array_min(transform(hs, h -> h % ${HashP}L))")
          .as("fingerprint"),
        size(col("hs")).cast("long").as("n_grams"))
  }
}
