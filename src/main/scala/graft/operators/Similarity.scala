package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ArgmaxDotE4, TopCellsDotE4}

/** Similarity search over an `ArrayType(FloatType)` embedding column:
  * brute-force quantized-cosine top-k (the correctness baseline) and a
  * random-hyperplane-LSH bucketed variant (the scale path).
  *
  * Determinism: float dot products are NOT reproducible across engines
  * (accumulation order), so similarity is computed on e4-quantized
  * integer components — `round(x·10⁴)` per element, 64-bit integer
  * products and sums, exact in any engine and order-independent. For
  * unit-norm embeddings `dot_e8/1e8` IS the cosine to ~4 decimals; the
  * ranking is what matters and it is total (tie-break on neighbor id).
  *
  * Scale design (100 TB): the query set is broadcast (top-k per query,
  * k and |Q| small); the data side streams through one projection +
  * aggregation — no shuffle of the corpus. The LSH variant prunes the
  * corpus side to matching buckets before any dot product. The
  * per-query top-k window partitions by query id — fine for |Q| ≫
  * cores; for few-query/huge-corpus shapes swap the window for a
  * per-partition heap (mapPartitions) merged on the driver.
  */
object Similarity {

  /** Quantized dot product of two float-array columns as exact int64:
    * Σ round(aᵢ·10⁴)·round(bᵢ·10⁴) — the native codegen'd
    * [[graft.functions.DotE8]] expression (callers register it via
    * [[ensureDotE8]]; the interpreted `aggregate(zip_with(…))`
    * formulation it replaces ran two lambdas per element). */
  def dotE8(a: String, b: String): Column = expr(s"dot_e8($a, $b)")

  private[graft] def ensureDotE8(df: DataFrame): Unit =
    graft.functions.DotE8.register(df.sparkSession)

  /** Brute-force top-k: for each query vector (`queries`: qid, qe) the
    * k nearest corpus vectors (`emb`: vec_id, embedding) by quantized
    * dot, descending, ties by vec_id. */
  def knnBrute(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    ensureDotE8(emb)
    val pairs = emb.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        dotE8("qe", "embedding").as("dot_e8"))
    val w = Window.partitionBy("qid")
      .orderBy(col("dot_e8").desc, col("nid").asc)
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("dot_e8"))
  }

  /** Deterministic integer "hyperplane" j over `dim` components:
    * w_j[i] = ((37+13j)·i + (91+7j)) mod 1000 − 500, i 1-based. Shared
    * with the oracle SQL formula — change both together. */
  def planeWeights(j: Int, dim: Int): Seq[Long] =
    (1 to dim).map(i => (((37L + 13 * j) * i + (91 + 7 * j)) % 1000) - 500)

  /** Bucket id: 2^nPlanes sign-pattern of the quantized embedding
    * against the integer hyperplanes. Each plane dot is the codegen'd
    * `dot_e4c` against a literal weight array — the interpreted
    * `aggregate(zip_with(…))` formulation it replaces ran two lambda
    * invocations per element per plane (nPlanes·dim interpreted calls
    * per row); same integer math, so bucket ids are unchanged. Callers
    * must have registered the function ([[ensureDotE8]] does). */
  def lshBucket(embCol: String, nPlanes: Int, dim: Int): Column = {
    val bits = (0 until nPlanes).map { j =>
      val lits = planeWeights(j, dim).mkString("L, ") + "L"
      expr(s"case when dot_e4c($embCol, array($lits)) > 0" +
        s" then ${1L << j}L else 0L end")
    }
    bits.reduce(_ + _)
  }

  /** ANN via hyperplane LSH: candidates = corpus vectors in the SAME
    * bucket as the query, then exact quantized top-k within the bucket.
    * Recall is bucket-bound (documented divergence from brute force —
    * that is the point of the scale path).
    *
    * `nProbes` is multi-probe LSH (Lv et al., VLDB'07): beyond its own
    * bucket, each query probes buckets at Hamming distance 1, flipping
    * the LEAST-CONFIDENT plane bits first (smallest |plane dot| — the
    * planes the query sits closest to, where its true neighbors most
    * likely fell on the other side). The probe list is an in-row
    * sorted-prefix + explode on the query side only — corpus vectors
    * keep exactly one bucket, so candidate growth is |Q|·nProbes-bound,
    * never corpus-bound. nProbes=1 is bit-identical to the
    * oracle-checked default. */
  def annLsh(emb: DataFrame, queryFilter: Column, k: Int,
      nPlanes: Int = 8, dim: Int = 64, nProbes: Int = 1): DataFrame = {
    ensureDotE8(emb)
    val withBucket = emb.withColumn("bucket",
      lshBucket("embedding", nPlanes, dim))
    val flipOrder = (0 until nPlanes).map { j =>
      val lits = planeWeights(j, dim).mkString("L, ") + "L"
      s"struct(abs(dot_e4c(embedding, array($lits))) AS a, $j AS j)"
    }.mkString("array(", ", ", ")")
    val probeBuckets = expr(
      s"concat(array(bucket), transform(" +
        s"slice(array_sort($flipOrder), 1, ${nProbes - 1})," +
        s" s -> bucket ^ shiftleft(1L, s.j)))")
    val queries = withBucket.where(queryFilter)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeBuckets).as("bucket"))
    val pairs = withBucket.join(broadcast(queries), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("bucket"), col("vec_id").as("nid"),
        dotE8("qe", "embedding").as("dot_e8"))
    val w = Window.partitionBy("qid")
      .orderBy(col("dot_e8").desc, col("nid").asc)
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("bucket"), col("rn"), col("nid"),
        col("dot_e8"))
  }

  /** IVF-style ANN: build integer centroids (exact-sum floor-div means
    * of the e4-quantized components, seeded from the label groups —
    * one Lloyd re-assignment step), assign EVERY vector to its nearest
    * centroid by integer dot, then answer queries by exact top-k within
    * the query's own cell (nprobe=1).
    *
    * Assignment shape (the 100 TB part): centroid sums come from ONE
    * hash aggregate over per-dimension `element_at` projections — no
    * posexplode — and the L finished centroids (L×dims longs) are
    * collected to the driver and re-emitted per [[CentroidSet]] as one
    * broadcast matrix read by a codegen expression (the literal-SQL
    * alternative survives only as the tests' reference path, forced
    * via `literalMaxL` — see [[LiteralCentroidMaxL]]'s scaladoc). Each
    * corpus row then computes its L cell dots and takes the argmax in
    * the same projection: zero joins, zero shuffles, nothing
    * materialized per (row, dim, label) — round 2's explode-join built
    * exactly that n×dims×L intermediate. The floor-div mean is
    * `Math.floorDiv` ≡ the oracle's `(s − pmod(s, n)) / n` (both true
    * floor; bare `/`|`//` truncate toward zero and diverge on negative
    * sums). All arithmetic is exact integers → oracle-reproducible,
    * unlike a float k-means. Recall is cell-bound, like [[annLsh]] —
    * that is the scale path's contract.
    *
    * `nprobe` is the standard IVF recall knob: each query searches its
    * `nprobe` nearest cells (by the same centroid dots, same
    * tie-break) instead of only its own. Corpus vectors still live in
    * exactly ONE cell — only the query side fans out, as an in-row
    * sorted-prefix + explode, so cost scales with |Q|·nprobe, never
    * with the corpus. nprobe=1 is bit-identical to the oracle-checked
    * default. */
  def ivfTopK(emb: DataFrame, queryFilter: Column, k: Int,
      dims: Int = 64, nprobe: Int = 1,
      literalMaxL: Int = LiteralCentroidMaxL): DataFrame = {
    ensureDotE8(emb)
    val cells = new CentroidSet(emb,
      collectCentroids(emb, "label", dims), literalMaxL)
    val withCell = emb.withColumn("clab", cells.assignCol)
    // query side: nprobe nearest cells by (d desc, label asc) — the
    // same tie-break as the assignment — then explode. Query rows
    // only; the corpus never fans out.
    val queries = emb.where(queryFilter)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(cells.probeCol(nprobe)).as("clab"))
    val pairs = withCell.join(broadcast(queries), Seq("clab"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("clab"), col("vec_id").as("nid"),
        dotE8("qe", "embedding").as("dot_e8"))
    val wRank = Window.partitionBy("qid")
      .orderBy(col("dot_e8").desc, col("nid").asc)
    pairs.withColumn("rn", row_number().over(wRank).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("clab"), col("rn"), col("nid"),
        col("dot_e8"))
  }

  /** ANN index-quality audit: recall@k of [[ivfTopK]] against the
    * exact [[knnBrute]] neighbours, per query — the evaluation loop
    * every approximate index needs before its probe budget is trusted
    * (the standard metric of the FAISS/IVF literature: |approx top-k ∩
    * exact top-k| / k).
    *
    * Both legs are the already-scale-shaped pipelines (query side
    * broadcast, corpus never reshuffled); the audit itself joins two
    * O(|Q|·k) frames — negligible at any corpus size, so measuring
    * recall costs one extra brute-force pass over the corpus for the
    * sampled query set, which is exactly how production recall checks
    * are run (sample queries, not the full corpus).
    *
    * Returns (qid, n_hits, recall_e4) with recall in e4 fixed-point
    * (`n_hits·10⁴ div k` — integer-exact, hash-stable); queries whose
    * approximate list misses every exact neighbour still appear with
    * n_hits = 0. */
  def annRecall(emb: DataFrame, queryFilter: Column, k: Int,
      dims: Int = 64, nprobe: Int = 1): DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"k and nprobe must be >= 1, got k=$k nprobe=$nprobe")
    val exact = knnBrute(emb,
      emb.where(queryFilter)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")), k)
    val approx = ivfTopK(emb, queryFilter, k, dims, nprobe)
    // both audit frames are O(|Q|·k) rows but stats-free (window-
    // derived), so hint the joins broadcast — a sort-merge here would
    // be wasted exchanges on kilobyte inputs
    val hits = exact.select(col("qid"), col("nid"))
      .join(broadcast(approx.select(col("qid"), col("nid"))),
        Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    // qid base straight from the query filter — NOT from `exact`: a
    // second reference to the knnBrute subtree would run the
    // brute-force corpus pass twice per materialization (Spark does
    // not dedupe common unpersisted subtrees)
    emb.where(queryFilter).select(col("vec_id").as("qid"))
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hits"))
      .withColumn("recall_e4", expr(s"(n_hits * 10000) div $k"))
  }

  /** Distributed SPHERICAL K-MEANS (Lloyd) over the quantized integer
    * embedding space — the centroid TRAINING an IVF index needs
    * ([[ivfTopK]] hard-codes exactly one of these iterations; clustering
    * is also the curation/dedup workhorse for training-data mixes).
    * Starting from the `label` column as the deterministic init, each
    * iteration: (1) per-cluster integer centroids — per-dimension
    * `floorDiv(Σ round(eᵢ·10⁴), n)` — from ONE hash aggregate
    * (`element_at` projections, map-side partial, no posexplode);
    * (2) every vector re-assigned to the argmax integer dot over the L
    * centroids (tie → smallest label), via [[CentroidSet]]'s
    * literal-or-broadcast assignment column.
    *
    * Scale shape: per iteration the corpus is scanned once and NEVER
    * shuffled or joined — centroid state is L×dims longs through the
    * driver (the classic broadcast-Lloyd layout); `iters` is a small
    * constant. Empty clusters drop out of the aggregate in both
    * engines by construction. All arithmetic is exact int64, so the
    * full ITERATED fixpoint is DuckDB-oracle-reproducible (p38) —
    * impossible for a float k-means, whose ulp drift compounds per
    * iteration. Returns `(vec_id, clab)`. */
  def kmeansAssign(emb: DataFrame, iters: Int, dims: Int = 64,
      literalMaxL: Int = LiteralCentroidMaxL): DataFrame =
    kmeansAssignFull(emb, iters, dims, literalMaxL)
      .select(col("vec_id"), col("clab"))

  /** Centroid-count threshold splitting the two assignment codepaths.
    * At or below it the collected centroids are re-emitted as literal
    * struct-array SQL; above it the centroid matrix ships as ONE Spark
    * broadcast read by the codegen'd [[graft.functions.ArgmaxDotE4]] /
    * [[graft.functions.TopCellsDotE4]] expressions, so plan size,
    * analysis cost, and generated code stay O(1) in L (SemDeDup-cited
    * deployments run ~50k clusters; L=50k × dims=64 literals would be
    * a multi-MB SQL string per Lloyd round).
    *
    * The default is 0 — the broadcast path ALWAYS. The literal form
    * measured fastest at oracle cluster counts when the assignment was
    * its own codegen stage, but the round-12 IVF profile (PROFILE_IVF)
    * caught a 50× cliff the isolated measurement missed: fused into a
    * join stage (ivfTopK's candidate scoring, semanticDedup's pair
    * stage), the combined stage's generated code blows past the
    * codegen limits, Spark silently falls back to INTERPRETED eval for
    * the whole stage, and the interpreted literal argmax re-allocates
    * all L×dims literal arrays per corpus row — ivfTopK at a 200k-row
    * corpus: 78 s literal vs 1.2 s broadcast, identical results. The
    * broadcast expressions generate O(1)-size code that never breaks
    * stage fusion, and win or tie in every plan shape measured.
    *
    * Both paths share the exact int64 dot and (d desc, label asc)
    * tie-break, so assignments are bit-identical — asserted
    * path-vs-path in SimilaritySpec (which pins the literal form at
    * literalMaxL=Int.MaxValue as an in-engine reference
    * implementation); p40 hash-pins the broadcast path against the
    * DuckDB oracle end-to-end, and StressSpec runs L=2048 through it. */
  val LiteralCentroidMaxL = 0

  /** ONE Lloyd centroid build, shared by [[ivfTopK]] and
    * [[kmeansAssignFull]] (both paths are oracle-hash-pinned against
    * the same DuckDB CTE formula — p13 and p38/p39 — and must never
    * drift): aggregate per-dimension quantized component sums over the
    * `labelCol`-assigned vectors, floor-div the means, and collect the
    * L centroids (label asc) — O(L×dims) longs of driver state, the
    * classic broadcast-Lloyd layout. */
  private[graft] def collectCentroids(assigned: DataFrame, labelCol: String,
      dims: Int): Array[(Int, Array[Long])] = {
    // qComp: a short vector contributes nothing to its missing dims'
    // sums but still counts in n — exactly the oracle's p38Round shape
    // (unnest drops absent dims, n is count(*) per cell)
    val compSums = (1 to dims).map(d => sum(Similarity.qComp(d)).as(s"s$d"))
    val aggs = count(lit(1)).as("n") +: compSums
    assigned.groupBy(col(labelCol))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1)
        (r.getInt(0),
          // a dim NO vector in the cell has sums to null → component 0
          Array.tabulate(dims)(d =>
            if (r.isNullAt(2 + d)) 0L
            else Math.floorDiv(r.getLong(2 + d), n)))
      }
      .sortBy(_._1)
  }

  /** The collected centroids' two consumer columns — argmax assignment
    * (corpus side) and nprobe probe cells (query side) — each emitted
    * through the [[LiteralCentroidMaxL]]-switched codepath. The
    * broadcast is built lazily and shared by both columns. */
  private[graft] final class CentroidSet(df: DataFrame,
      centroids: Array[(Int, Array[Long])], literalMax: Int) {
    require(centroids.nonEmpty, "no centroids: empty assignment frame")
    private def cellsSql: String =
      centroids.map { case (lab, c) =>
        s"struct(dot_e4c(embedding, array(${c.mkString("L,")}L)) AS d, " +
          s"${-lab} AS nl)"
      }.mkString("array(", ", ", ")")
    private lazy val bc = df.sparkSession.sparkContext.broadcast(
      (centroids.map(_._1), centroids.map(_._2)))
    /** `clab`: label of the max-dot centroid, ties to smallest label. */
    def assignCol: Column =
      if (centroids.length <= literalMax)
        expr(s"cast(-array_max($cellsSql).nl as int)")
      else GraftPlanBridge.column(
        ArgmaxDotE4(UnresolvedAttribute("embedding"), bc))
    /** The `min(nprobe, L)` best cell labels, (d desc, label asc). The
      * literal form sorts the (d, −label) structs ascending and
      * reverses — d desc then label asc, the same order the broadcast
      * expression maintains directly. */
    def probeCol(nprobe: Int): Column =
      if (centroids.length <= literalMax)
        expr(s"transform(slice(reverse(array_sort($cellsSql)), 1, $nprobe)," +
          s" s -> cast(-s.nl as int))")
      else GraftPlanBridge.column(
        TopCellsDotE4(UnresolvedAttribute("embedding"), bc, nprobe))
  }

  /** [[kmeansAssign]] keeping the embedding column — what
    * [[semanticDedup]]'s pair stage consumes without re-joining the
    * corpus to its own assignment. */
  private[graft] def kmeansAssignFull(emb: DataFrame, iters: Int,
      dims: Int, literalMaxL: Int = LiteralCentroidMaxL): DataFrame = {
    require(iters >= 1 && dims >= 1)
    ensureDotE8(emb)
    var assigned = emb.select(col("vec_id"), col("embedding"),
      col("label").cast("int").as("clab"))
    (1 to iters).foreach { _ =>
      val cells = new CentroidSet(assigned,
        collectCentroids(assigned, "clab", dims), literalMaxL)
      assigned = assigned.withColumn("clab", cells.assignCol)
    }
    assigned
  }

  /** SemDeDup-style SEMANTIC dedup: cluster with [[kmeansAssign]],
    * then inside each k-means cell drop every vector that has a
    * SMALLER-id cell-mate with quantized cosine ≥ `threshold` —
    * the published embedding-dedup recipe for web-scale corpora
    * (cluster first so the pair search is cell-local). The pair stage
    * is all-pairs WITHIN a cell only: the caller sizes the cluster
    * count so cells stay small (the technique's own contract — its
    * reference deployments use ~50k clusters, an operating point the
    * assignment reaches via the broadcast-matrix path past
    * [[LiteralCentroidMaxL]]), giving O(n²/L) candidate
    * work spread cell-parallel instead of O(n²) global; the self-join
    * shuffles on `clab`, so each cell's pairs build where its vectors
    * already live. Duplicates missed across cell boundaries are the
    * documented recall trade — the same contract as [[annLsh]]'s
    * buckets. Determinism is [[cosineNearDups]]'s: exact int64
    * dot/norms, cosine as the IEEE sequence dot/√(n1·n2). Returns
    * `(vec_id, clab, keep)`, keep ∈ {0, 1}.
    *
    * `maxCell` is the quadratic-blowup guard, mirroring
    * [[graft.operators.Dedup]]'s `maxBucket` star-degradation: a cell
    * that collapses past it (bad init, degenerate corpus) compares
    * every member against the cell's min-id ANCHOR only — O(cell)
    * pairs instead of O(cell²), deterministic, recall-degraded the
    * same honest way. Cell sizes are one tiny aggregate (≤ L rows,
    * broadcast back). */
  def semanticDedup(emb: DataFrame, threshold: Double,
      iters: Int = 1, dims: Int = 64, maxCell: Int = 1000,
      literalMaxL: Int = LiteralCentroidMaxL): DataFrame = {
    ensureDotE8(emb)
    val assigned = kmeansAssignFull(emb, iters, dims, literalMaxL)
      .withColumn("nrm", expr("dot_e8(embedding, embedding)"))
    val sizes = assigned.groupBy(col("clab"))
      .agg(count(lit(1)).as("cell_n"), min(col("vec_id")).as("anchor"))
    // cached: the pair join's two sides and the final keep join would
    // otherwise each re-derive the assignment — three more corpus
    // scans (plan-checked: no exchange reuse, the sides differ by the
    // anchor filter). LRU-evicted, the linesRaster pattern.
    val aug = assigned.join(broadcast(sizes), Seq("clab")).persist()
    // left side of the pair join: whole cell normally, anchor-only for
    // oversized cells (star degradation)
    val a = aug.where(col("cell_n") <= maxCell
        || col("vec_id") === col("anchor"))
      .select(col("clab"), col("vec_id").as("d1"),
        col("embedding").as("e1"), col("nrm").as("n1"))
    val b = aug.select(col("clab"), col("vec_id").as("d2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    val dups = a.join(b, Seq("clab")).where(col("d1") < col("d2"))
      // zero-norm guard INSIDE the expression: a dead/sub-quantization
      // vector has nrm = 0 — under ANSI the division itself throws
      // DIVIDE_BY_ZERO, and a trailing filter conjunct gives no
      // evaluation-order guarantee once the optimizer splits it. The
      // when() makes the cosine null (never computed) for such pairs,
      // and null never passes the threshold. Contract: zero-norm
      // vectors have no direction, so they are never anyone's
      // duplicate (mirrored in the DuckDB oracle).
      .withColumn("cosine", when(col("n1") > 0 && col("n2") > 0,
        expr("dot_e8(e1, e2)").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("d2").as("vec_id")).distinct()
    // read the keep join's left side from the CACHED aug, not from
    // `assigned`: the cache substitutes only plans containing the
    // persisted Join subtree, so an `assigned`-rooted plan would
    // re-run the whole k-means argmax scan
    val res = aug.select(col("vec_id"), col("clab"))
      .join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("clab"),
        when(col("dup").isNotNull, 0).otherwise(1).as("keep"))
    // explicit cache lifecycle ([[CacheLifecycle]]): the persist
    // exists so the result's ONE materialization shares the assignment
    // across its three readers — release it as soon as that
    // materialization completes, instead of pinning storage memory
    // until LRU pressure.
    CacheLifecycle.unpersistAfterFirstUse(res, aug)
    res
  }

  /** Cluster-balanced diversity sample: k-means cells ([[kmeansAssign]],
    * broadcast-Lloyd) × per-cell deterministic quota
    * ([[Sampling.quotaSample]]'s bounded-top-k shape) — up to `k`
    * vectors per cell by smallest (content hash, vec_id). The
    * "coverage sampling" step of embedding-space curation: where a
    * uniform corpus sample mirrors the density (the head cluster
    * dominates), sampling a fixed quota per cell flattens it — every
    * region of embedding space is represented, the tail is not
    * drowned. Pairs with [[semanticDedup]] (dedup within cells, then
    * balance across them).
    *
    * Scale: the assignment is the shared O(L×dims) broadcast shape;
    * the quota is one bounded hash aggregate (per-cell state ≤ k,
    * map-side combine) — no per-cell sort, no corpus shuffle beyond
    * the aggregate. Output: (clab, rn, vec_id, h_quota). */
  def clusterBalancedSample(emb: DataFrame, k: Int, iters: Int = 1,
      dims: Int = 64, salt: String = "diverse",
      literalMaxL: Int = LiteralCentroidMaxL): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val assigned = kmeansAssignFull(emb, iters, dims, literalMaxL)
      .select(col("clab"), col("vec_id").as("doc_id"))
    Sampling.quotaSample(assigned, Seq("clab"), k, salt)
      .select(col("clab"), col("rn"), col("doc_id").as("vec_id"),
        col("h_quota"))
  }

  /** Embedding-cosine NEAR-DUP pairs (the dedup-flavored sibling of
    * [[annLsh]]): vectors sharing a hyperplane-LSH bucket whose true
    * quantized cosine is ≥ `threshold`. Candidates are bucket
    * collisions — never all-pairs — and the verification is one
    * codegen'd `dot_e8` per candidate pair, so the operator follows
    * the same candidates→verify shape as MinHash-LSH text dedup.
    * Recall is bucket-bound, the documented LSH contract.
    *
    * Determinism: dot and squared norms are exact int64
    * (`dot_e8(e, e)`), and the cosine is the IEEE sequence
    * `dot / sqrt(double(n1) · double(n2))` — identical op order in the
    * oracle, so the doubles are bit-equal (norms ≈ 6e9 ≪ 2⁵³, exact as
    * doubles; sqrt/mul/div are correctly-rounded IEEE in any engine). */
  /** Memoized hot-bucket gate for [[cosineNearDups]] — the SkewOps
    * gateCache shape: per (session, emb plan, params), the ≤ 2^nPlanes
    * buckets whose population exceeds `maxBlock`, with their sub-block
    * count. Collected ONCE per corpus as a tiny plan-time job (which
    * doubles as the cache fill for `withBucket`); repeat calls replay
    * the decision. A stale decision after the underlying files change
    * under an identical plan only mis-tunes the SPLIT — results are
    * pair-set-identical for any split. */
  private val hotBucketCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Long, Long)]]()
  private[operators] def clearHotBucketCache(): Unit = hotBucketCache.clear()

  private def hotBuckets(withBucket: DataFrame, maxBlock: Int)
      : Array[(Long, Long)] = {
    val key = s"${SkewOps.sessionKey(withBucket.sparkSession)}|" +
      s"${withBucket.queryExecution.analyzed.semanticHash()}|$maxBlock"
    var cached = hotBucketCache.get(key)
    if (cached == null) {
      if (hotBucketCache.size > 256) hotBucketCache.clear()
      val computed = withBucket.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bn"))
        .where(col("bn") > maxBlock)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1) + maxBlock - 1) / maxBlock)
      val prev = hotBucketCache.putIfAbsent(key, computed)
      cached = if (prev == null) computed else prev
    }
    cached
  }

  def cosineNearDups(emb: DataFrame, threshold: Double,
      nPlanes: Int = 8, dim: Int = 64, maxBlock: Int = 4096): DataFrame = {
    require(maxBlock >= 1, s"maxBlock must be positive, got $maxBlock")
    ensureDotE8(emb)
    // persisted (r18): the pair join's two sides derived the bucket
    // independently — the r17 plan scanned the embeddings TWICE and ran
    // the 8-plane bucket hash (8 literal dot products over `dim`
    // components) plus the norm dot on BOTH legs. One cached pass
    // feeds both sides (and the hot-bucket gate below); released by
    // the one-shot listener after the result materializes.
    val withBucket = emb
      .withColumn("bucket", lshBucket("embedding", nPlanes, dim))
      .withColumn("nrm", expr("dot_e8(embedding, embedding)"))
      .persist()
    // ≤ 2^nPlanes join keys: at corpus scale every bucket is a HOT key
    // by construction (parallelism capped at 2^nPlanes, per-bucket
    // pair work quadratic in its population — the p15 sf10 knee).
    // Buckets past `maxBlock` rows get sub-blocked deterministically:
    // the d2 side splits into ceil(bn/maxBlock) blocks by
    // pmod(xxhash64(vec_id)), the d1 side replicates across its
    // bucket's blocks, and the join key becomes (bucket, blk) — every
    // same-bucket pair still meets exactly once (at the block of its
    // d2), so the result set is untouched, but one bucket's quadratic
    // verification spreads over nb tasks instead of one (guide §2.5:
    // split the key AQE cannot). The hot list is gate-collected and
    // memoized ([[hotBuckets]]); with no hot bucket — every local
    // corpus — the plan is EXACTLY the plain bucket self-join over the
    // cache, no replication, no extra join column.
    val hot = hotBuckets(withBucket, maxBlock)
    val a0 = withBucket.select(col("bucket"), col("vec_id").as("d1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b0 = withBucket.select(col("bucket"), col("vec_id").as("d2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    val joined = if (hot.isEmpty) a0.join(b0, Seq("bucket"))
      else {
        // nb per bucket as a literal lookup (≤ 2^nPlanes entries)
        def nbExpr: Column = coalesce(element_at(
          map(hot.flatMap { case (bk, nb) => Seq(lit(bk), lit(nb)) }: _*),
          col("bucket")), lit(1L))
        val a = a0.withColumn("blk",
          explode(sequence(lit(0L), nbExpr - 1L)))
        val b = b0.withColumn("blk",
          pmod(xxhash64(col("d2")), nbExpr))
        a.join(b, Seq("bucket", "blk"))
      }
    val result = joined
      .where(col("d1") < col("d2"))
      .withColumn("dot_e8", expr("dot_e8(e1, e2)"))
      // zero-norm guard inside the expression (see semanticDedup):
      // under ANSI the 0-denominator division throws; the when() keeps
      // it unevaluated and null never passes the threshold — zero-norm
      // vectors are never near-dups by contract
      .withColumn("cosine", when(col("n1") > 0 && col("n2") > 0,
        col("dot_e8").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), col("bucket"), col("dot_e8"),
        col("cosine"))
    CacheLifecycle.unpersistAfterFirstUse(result, withBucket)
    result
  }

  /** Embedding-space benchmark DECONTAMINATION — the semantic sibling
    * of [[graft.operators.Sampling.decontaminate]]'s n-gram overlap
    * check: flag every training vector whose cosine against ANY
    * held-out benchmark vector reaches `threshold` (paraphrased eval
    * leakage that exact n-gram matching misses). Emits one row per
    * training vector — max_cos, the arg-max benchmark id (ties →
    * smallest id), and the contaminated verdict — so the output
    * doubles as an audit table, not just a filter.
    *
    * Scale shape: benchmark sets are tiny (thousands) next to a
    * 100 TB corpus, so the benchmark is collected driver-side (same
    * O(B) contract as the IVF centroid build), quantized once, and
    * evaluated IN-ROW as literal `dot_e4c` dots — the corpus is
    * scanned ONCE with zero joins and zero shuffles (plan-asserted in
    * the spec), the exact shape that survives 1000 executors. Past
    * the literal threshold (~thousands of benchmark rows) the
    * [[graft.functions.ArgmaxDot]] broadcast-matrix route applies —
    * pre-normalize benchmark vectors to fixed-point so max-dot ≡
    * max-cosine — but the literal form is the right default for real
    * benchmark sizes.
    *
    * Determinism: dots and squared norms are exact int64 at e4
    * quantization; each cosine is the IEEE sequence
    * `dot / sqrt(double(n1)·double(n2))` — identical op order in the
    * DuckDB oracle, so the doubles are bit-equal and the ≥-threshold
    * verdicts cannot straddle engines. Benchmark input schema:
    * (bench_id: long, embedding: array<float>). */
  def embedDecontaminate(train: DataFrame, benchmark: DataFrame,
      threshold: Double): DataFrame = {
    ensureDotE8(train)
    val bench = benchmark.select(col("bench_id"), col("embedding"))
      .collect().map { r =>
        val q = r.getSeq[Float](1).map(graft.functions.DotE8.roundE4).toArray
        (r.getLong(0), q, q.map(x => x * x).sum)
      }
      // zero-norm benchmark vectors have no direction: their cosine is
      // 0/0 = NaN against EVERY training row, and NaN orders above the
      // threshold — one dead bench vector would flag the whole corpus.
      // They cannot be contaminated against, so drop them up front
      // (mirrored in the oracle).
      .filter(_._3 > 0)
      .sortBy(_._1)
    require(bench.nonEmpty, "benchmark set is empty (or all zero-norm)")
    val cands = bench.map { case (id, q, n2) =>
      val lits = q.mkString("", "L, ", "L")
      // the n1 = 0 branch must keep the division UNEVALUATED (ANSI
      // throws on the 0 denominator): `if` short-circuits; NaN keeps
      // the argmax total (it orders above every real cosine, ties
      // break to the smallest bench id) and the verdict below guards
      // on n1, so a zero-norm train row is (max_cos NaN, clean)
      s"struct(if(n1 > 0, " +
        s"cast(dot_e4c(embedding, array($lits)) as double) / " +
        s"sqrt(cast(n1 as double) * cast(${n2}L as double)), " +
        s"cast('NaN' as double)) as c, " +
        s"${-id}L as nb)"
    }.mkString("array(", ", ", ")")
    train
      .withColumn("n1", expr("dot_e8(embedding, embedding)"))
      .withColumn("best", expr(s"array_max($cands)"))
      .select(col("vec_id"), col("best.c").as("max_cos"),
        (-col("best.nb")).as("best_bench"),
        // a zero-norm TRAINING vector scores NaN against every bench
        // vector; it carries no content to leak, so it is clean by
        // contract (without the guard NaN ≥ threshold is TRUE)
        (col("n1") > 0 && col("best.c") >= threshold).as("contaminated"))
  }

  /** Per-label embedding stats on exact quantized components: count and
    * Σ round(e[d]·10⁴) for the first `nDims` dimensions. */
  def labelStats(emb: DataFrame, nDims: Int): DataFrame = {
    val sums = (1 to nDims).map(d =>
      sum(Similarity.qComp(d)).as(s"s$d"))
    val aggs = count(lit(1)).as("n") +: sums
    emb.groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
  }

  /** e4-quantized component d, NULL when the vector is shorter than d —
    * bare `element_at` past the end THROWS under Spark's default ANSI
    * mode, where the DuckDB oracles (subscript access / unnest) treat a
    * missing dim as absent. Null-skipping sums over this expression
    * match the oracles' semantics; counts stay whatever the caller
    * aggregates. The corpus contract is fixed-width embeddings — this
    * guard makes a stray short vector degrade instead of killing the
    * query. */
  private def qComp(d: Int): Column = expr(
    s"case when size(embedding) >= $d then " +
      s"cast(round(cast(element_at(embedding, $d) as double) * 10000) " +
      "as bigint) end")

  /** Exact second-moment (covariance) statistics over the first
    * `nDims` embedding components — the one-pass aggregate PCA /
    * whitening / decorrelation preprocessing needs before any
    * projection can be chosen. For every dimension pair i ≤ j the
    * exact int64 sums n, Σvᵢ, Σvⱼ, Σvᵢvⱼ over the e4-quantized
    * components (the p11/p13/p38 fixed-point convention), plus the
    * covariance itself — numerator `n·Σvᵢvⱼ − Σvᵢ·Σvⱼ` formed in
    * exact integer arithmetic and divided by n² in ONE IEEE step, so
    * any engine reproduces it bit-for-bit (a naive mean-centered
    * float accumulation is order-dependent AND catastrophically
    * cancels; the integer form is neither).
    *
    * Scale shape: ONE projection + ONE global hash aggregate — state
    * is O(nDims²) longs total (map-side partial, no shuffle of the
    * corpus, nothing materialized per row pair); the d² pair fan-out
    * happens on the SINGLE aggregated row, not per vector. Headroom:
    * |v| ≤ ~2·10⁴ ⇒ |Σvᵢvⱼ| < 2⁶³ up to ~2·10¹⁰ rows and
    * |n·Σvᵢvⱼ| < 2⁶³ up to ~5·10⁹ rows at this quantization — past
    * that, run per-partition and combine the sums as decimals; the
    * sums themselves stay mergeable by addition. Output:
    * (i, j, n, s_i, s_j, s_ij, cov), i ≤ j. */
  def covarianceStats(emb: DataFrame, nDims: Int): DataFrame = {
    require(nDims >= 1, s"nDims must be >= 1, got $nDims")
    // qComp: missing dims are NULL (never an ANSI throw); every pair
    // statistic is scoped to rows possessing BOTH dims — the oracle's
    // semantics exactly (its pairs CTE inner-joins the component rows,
    // so n, s_i, s_j are all pair-scoped there). On a fixed-width
    // corpus pair-scoped ≡ global, so this costs nothing at contract.
    val comp = emb.select((1 to nDims).map(d =>
      Similarity.qComp(d).as(s"v$d")): _*)
    val pairIdx = for { i <- 1 to nDims; j <- i to nDims } yield (i, j)
    def both(i: Int, j: Int): Column =
      col(s"v$i").isNotNull && col(s"v$j").isNotNull
    val aggCols = pairIdx.flatMap { case (i, j) => Seq(
      count(when(both(i, j), 1)).as(s"n${i}_$j"),
      sum(when(both(i, j), col(s"v$i"))).as(s"si${i}_$j"),
      sum(when(both(i, j), col(s"v$j"))).as(s"sj${i}_$j"),
      sum(col(s"v$i") * col(s"v$j")).as(s"p${i}_$j")) }
    val one = comp.agg(aggCols.head, aggCols.tail: _*)
    val pairs = array(pairIdx.map { case (i, j) =>
      struct(lit(i).as("i"), lit(j).as("j"), col(s"n${i}_$j").as("n"),
        col(s"si${i}_$j").as("s_i"), col(s"sj${i}_$j").as("s_j"),
        col(s"p${i}_$j").as("s_ij")) }: _*)
    one.select(explode(pairs).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.n").as("n"),
        col("p.s_i").as("s_i"), col("p.s_j").as("s_j"),
        col("p.s_ij").as("s_ij"),
        // n = 0 would be an ANSI divide-by-zero; the oracle has no row
        // for an empty pair, so null cov on an all-short corpus is the
        // benign divergence (fixed-width corpora never hit it)
        when(col("p.n") > 0,
          (col("p.n") * col("p.s_ij") - col("p.s_i") * col("p.s_j"))
            .cast("double") /
            (col("p.n") * col("p.n")).cast("double")).as("cov"))
  }

  /** Symmetric int8 quantization audit per vector — the vector-store
    * compression step: per-vector scale = maxabs/127, q_i =
    * round(v_i/scale) ∈ [-127, 127], plus the reconstruction error the
    * compression costs. Entirely IN-ROW (transform/zip_with/aggregate
    * over the embedding array — no shuffle at all; a 100 TB embedding
    * table pays one projection).
    *
    * All arithmetic runs in the repo's exact fixed-point domain
    * (v = round(x·10⁴) as BIGINT, the p11/p13 convention): the max,
    * the quantized values (integer round-half-away-from-zero — the
    * `div` numerators are kept non-negative so Spark's truncating and
    * DuckDB's flooring integer division agree), and the squared-error
    * numerator Σ(127·v − q·m)² are all integers, so any engine
    * reproduces them bit-for-bit; the one IEEE division at the end
    * (sse over its exact denominator n·127²·m²) is deterministic.
    * All-zero vectors quantize to zeros with zero error. */
  def quantizationStats(emb: DataFrame, fixedScale: Int = 10000): DataFrame =
    emb
      .select(col("vec_id"), expr(
        s"""transform(embedding,
           |  x -> CAST(round(CAST(x AS DOUBLE) * $fixedScale) AS BIGINT))"""
          .stripMargin).as("vs"))
      .withColumn("m", expr("aggregate(vs, 0L, (a, x) -> greatest(a, abs(x)))"))
      .withColumn("qs", expr(
        """transform(vs, v -> CASE
          |  WHEN m = 0 THEN 0L
          |  WHEN v >= 0 THEN (v * 254 + m) div (2 * m)
          |  ELSE -((-v * 254 + m) div (2 * m)) END)""".stripMargin))
      .withColumn("sse_num", expr(
        """aggregate(zip_with(vs, qs, (v, q) -> 127 * v - q * m),
          |  0L, (a, e) -> a + e * e)""".stripMargin))
      .select(col("vec_id"),
        size(col("vs")).cast("long").as("n_dims"),
        col("m"), col("sse_num"),
        // guarded: ANSI-mode element_at throws past the array end,
        // where the oracle's qs[i] yields NULL — match the oracle
        when(size(col("qs")) >= 1, element_at(col("qs"), 1)).as("q1"),
        when(size(col("qs")) >= 2, element_at(col("qs"), 2)).as("q2"),
        when(col("m") === 0, lit(0.0))
          .otherwise(col("sse_num").cast("double") /
            (size(col("vs")).cast("long") * lit(16129L) * col("m") * col("m"))
              .cast("double"))
          .as("rel_sse"))

  // ------------------------------------------------------------- product quantization
  /** Product-quantization codebooks: the vector is split into `m`
    * contiguous subspaces of `dims/m` components; per subspace a
    * `codes`-cell codebook is trained with ONE Lloyd round from the
    * deterministic init `(vec_id + 3·sub) mod codes` (the p38/p40
    * convention — label-derived init, integer-exact centroid means
    * `floorDiv(Σ round(e·10⁴), n)`). PQ is the memory-compression
    * path of the similarity family: a 64-dim float vector becomes m
    * small ints (8 bytes at m=8), a 32× shrink, at the cost of
    * quantized distances — the standard layout for billion-vector ANN
    * (IVF lists of PQ codes).
    *
    * Scale shape: codebook training is one corpus-scan hash aggregate
    * over the m-exploded subvectors (state = m×codes×(dims/m+1) longs
    * through the driver — the broadcast-Lloyd layout, O(1) in corpus
    * size); encoding is a pure per-row projection (the m argmin cells
    * emitted as literal dot_e4c structs, each over a dims/m slice —
    * m×codes cells of dims/m components ≈ the documented
    * [[LiteralCentroidMaxL]] literal budget). Nothing ever shuffles
    * the corpus. All arithmetic int64-exact, so the codebooks AND
    * codes are DuckDB-reproducible (p56).
    *
    * Returns `(sub → sorted centroid list (code, components, ‖c‖²))`
    * keyed 1..codes; empty cells drop out in both engines. */
  private[graft] def pqCodebooks(emb: DataFrame, m: Int, codes: Int,
      dims: Int): Array[Array[(Int, Array[Long], Long)]] = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val sd = dims / m
    val subbed = emb.select(col("vec_id"),
      explode(lit((0 until m).toArray)).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * sd + 1, lit(sd)).as("subvec"),
        (pmod(col("vec_id") + col("sub") * 3, lit(codes)) + 1)
          .cast("int").as("c0"))
    val compSums = (1 to sd).map(j => sum(expr(
      s"cast(round(cast(element_at(subvec, $j) as double) * 10000) " +
        "as bigint)")).as(s"s$j"))
    val aggs = count(lit(1)).as("n") +: compSums
    val rows = subbed.groupBy(col("sub"), col("c0"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s).map { r =>
        val n = r.getLong(2)
        val comps = Array.tabulate(sd)(j =>
          Math.floorDiv(r.getLong(3 + j), n))
        (r.getInt(1), comps, comps.map(c => c * c).sum)
      }.sortBy(_._1)
    }
  }

  /** PQ-encode the corpus: `(vec_id, codes array<int> of length m)` —
    * per subspace the argmin-distance codebook cell, computed as
    * argmax of `2·(x·c) − ‖c‖²` (equal up to the code-independent
    * ‖x‖², so int64-exact with no squared-difference blowup), ties to
    * the smallest code — the [[CentroidSet]] `array_max(struct(d,
    * −code))` idiom per subspace. */
  def pqEncode(emb: DataFrame, m: Int = 8, codes: Int = 16,
      dims: Int = 64): DataFrame =
    pqEncodeWith(emb, pqCodebooks(emb, m, codes, dims), m, dims)

  /** [[pqEncode]] against ALREADY-TRAINED codebooks — what
    * [[pqSearchAdc]] uses so training's corpus aggregate runs once,
    * not once per consumer. Encoding runs on the broadcast
    * [[graft.functions.PqCodesE4]] expression: the literal
    * per-subspace `array_max(struct(dot_e4c…))` form is ~m×codes
    * expression nodes and its analyzer+Janino cost dominated the p56
    * bench at the default 8×16 geometry; the broadcast expression
    * keeps the plan O(1) in the codebook size (same argument as
    * [[LiteralCentroidMaxL]]'s large-L path, applied unconditionally
    * here because PQ's m×codes product starts past the literal
    * sweet spot). */
  private[graft] def pqEncodeWith(emb: DataFrame,
      books: Array[Array[(Int, Array[Long], Long)]], m: Int,
      dims: Int, keep: Seq[String] = Nil): DataFrame = {
    val sd = dims / m
    val bc = emb.sparkSession.sparkContext.broadcast(
      books.map(cents => (cents.map(_._1), cents.map(_._2),
        cents.map(_._3))))
    emb.select(col("vec_id") +: keep.map(col) :+ (GraftPlanBridge.column(
      graft.functions.PqCodesE4(UnresolvedAttribute("embedding"), bc, sd))
      .as("codes")): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k search: queries stay
    * full-precision, the corpus is its PQ codes, and a query×code
    * score is the table lookup Σ_s dt[s][code_s] with dt[s][c] =
    * round(q·10⁴)·c — the classic ADC layout. The per-query distance
    * tables (Q×m×codes longs) are computed driver-side from the
    * collected query vectors and ride a broadcast; the corpus side is
    * one projection over the CODES (m small ints per row — the point
    * of PQ: at 100 TB the scan reads 32× less than the embeddings),
    * no corpus shuffle until the per-query top-k. Scores are exact
    * int64, ties to the smaller neighbor id; ranking quality vs exact
    * dot is the PQ approximation trade, pinned against the DuckDB
    * replay (p57), not against brute force. */
  /** The per-query ADC distance table: dt[s][c−1] = q_s · centroid c
    * of subspace s (exact int64 over e4-quantized components) — m ×
    * codes longs per query, built driver-side from the collected
    * query vector. Cells absent from a codebook stay 0 and are never
    * referenced (no vector encodes to a missing cell). */
  private def adcTable(qv: Array[Long],
      books: Array[Array[(Int, Array[Long], Long)]], m: Int, sd: Int,
      codes: Int): Seq[Seq[Long]] =
    Array.tabulate(m) { s =>
      val row = Array.fill(codes)(0L)
      books(s).foreach { case (c, comps, _) =>
        var acc = 0L
        var j = 0
        while (j < sd) { acc += qv(s * sd + j) * comps(j); j += 1 }
        row(c - 1) = acc
      }
      row.toSeq
    }.toSeq

  /** The ADC score column: Σ_s dt[s][code_s] — table lookups over the
    * broadcast per-query tables, an 8-step in-row fold. */
  private def adcCol(m: Int): Column = expr(
    s"""aggregate(sequence(1, $m), 0L, (acc, s) ->
       |  acc + element_at(element_at(dt, s),
       |                   element_at(codes, s)))""".stripMargin)

  def pqSearchAdc(emb: DataFrame, nQueries: Int, k: Int, m: Int = 8,
      codes: Int = 16, dims: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sd = dims / m
    val books = pqCodebooks(emb, m, codes, dims)
    val encoded = pqEncodeWith(emb, books, m, dims)
    val dts = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Float](1).map(x => DotE8Round.e4(x)).toArray
        (r.getLong(0), adcTable(qv, books, m, sd, codes))
      }.toSeq
    val qdf = dts.toDF("qid", "dt")
    val w = Window.partitionBy("qid")
      .orderBy(col("adc").desc, col("nid").asc)
    encoded.crossJoin(broadcast(qdf))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), adcCol(m).as("adc"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("adc"))
  }

  /** IVF+PQ — the composed billion-vector serving layout: the corpus
    * lives as (cell, codes) — one IVF Lloyd step from the label init
    * (the p13 contract) for the cells, global PQ codebooks (the flat
    * IVF-PQ variant; per-cell residual books are the next refinement)
    * for the codes — and a query probes its `nprobe` nearest cells
    * (same centroid dots and tie-break as the assignment), then
    * ADC-scores ONLY those cells' codes via its broadcast distance
    * table.
    *
    * The scale contract is the two knobs composing: IVF bounds the
    * candidates to nprobe/L of the corpus, PQ bounds the bytes per
    * candidate to m small ints — the scan cost is
    * (nprobe/L)·corpus·m ints where brute force reads corpus·dims
    * floats. The corpus shuffles once on `clab` (its resident
    * partitioning in a real deployment); the query side is wholly
    * broadcast. Recall is cell-bound (the [[ivfTopK]]/[[annLsh]]
    * contract) ON TOP of PQ's quantization error; both knobs are
    * pinned by the p58 oracle, which replays probe order, cell
    * membership, codes, and table lookups exactly. */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int, nprobe: Int = 2,
      m: Int = 8, codes: Int = 16, dims: Int = 64,
      literalMaxL: Int = LiteralCentroidMaxL): DataFrame = {
    ensureDotE8(emb)
    val spark = emb.sparkSession
    import spark.implicits._
    val sd = dims / m
    val cells = new CentroidSet(emb,
      collectCentroids(emb, "label", dims), literalMaxL)
    val books = pqCodebooks(emb, m, codes, dims)
    val corpus = pqEncodeWith(emb.withColumn("clab", cells.assignCol),
      books, m, dims, keep = Seq("clab"))
    val qrows = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"),
        cells.probeCol(nprobe).as("probes"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Float](1).map(x => DotE8Round.e4(x)).toArray
        (r.getLong(0), r.getSeq[Int](2),
          adcTable(qv, books, m, sd, codes))
      }.toSeq
    val qdf = qrows.toDF("qid", "probes", "dt")
      .select(col("qid"), explode(col("probes")).as("clab"), col("dt"))
    val w = Window.partitionBy("qid")
      .orderBy(col("adc").desc, col("nid").asc)
    corpus.join(broadcast(qdf), Seq("clab"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("clab"), col("vec_id").as("nid"),
        adcCol(m).as("adc"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("clab"), col("rn"), col("nid"), col("adc"))
  }
}

/** Shared e4 rounding for driver-side table builds — the same
  * half-away-from-zero contract as [[graft.functions.DotE8.roundE4]]
  * (aliased here to keep the call sites short). */
private object DotE8Round {
  def e4(x: Float): Long = graft.functions.DotE8.roundE4(x)
}
