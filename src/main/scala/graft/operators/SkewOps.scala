package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities.
  *
  * AQE's skew-join splitting (on by default in Spark 4) is the first
  * line of defense; these are for the cases it doesn't cover —
  * deterministic pre-salting of a known-hot key in a shuffle join or
  * a high-cardinality aggregation whose partials are already huge.
  */
object SkewOps {

  /** Shared salt-bucket count: the session's reducer count, clamped
    * to [2, 1024] (past 1024 reducers the per-reducer share of a hot
    * key already dwarfs the dim-replication cost — the measured
    * argument at [[graft.operators.TextStats]]'s saltedFreqJoin). */
  def defaultBuckets(df: DataFrame): Int =
    math.min(1024, math.max(2, df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt))

  /** The gate: keys whose `weightCol` share of the total exceeds
    * `1/(2·buckets)` — at most `2·buckets` DISTINCT keys can qualify.
    * The distinct matters for the join contract: a dim with duplicate
    * rows for a hot key would otherwise emit the key twice here, and
    * both gate probes are plain (not semi) joins — each duplicate
    * would MULTIPLY the fact and dim sides and the final join would no
    * longer equal `fact.join(dim, key)`. Current call sites pass
    * aggregated dims, but the API must not depend on that. */
  private[operators] def hotKeys(dim: DataFrame, key: String,
      weightCol: String, buckets: Int): DataFrame = {
    val tot = dim.agg(sum(col(weightCol)).as("_tot"))
    dim.crossJoin(broadcast(tot))
      .where(col(weightCol) * (2L * buckets) > col("_tot"))
      .select(col(key)).distinct()
      .withColumn("_hot", lit(1))
  }

  /** Gate-decision cache: the hot-key list collected once per
    * (session, dim plan, key, weight, buckets) and replayed as a local
    * relation on repeat calls — the gate's serialized critical path
    * (one scalar aggregate + the share filter over `dim`) is a
    * LATENCY constant (~1.3–1.4× plain on a local run, StressSpec),
    * paid per CALL before this cache and once per corpus after it.
    * Measured against a per-call gate (in-JVM interleaved pairs over
    * the six `hotSaltedJoin` queries p33/p37/p45/p47/p48/p66 in one
    * session, DESIGN_CENSUS.md): per-call ran 1.82× the cached
    * sequence at sf0.1 and 1.55× at sf1 — the gate re-aggregates the
    * whole dim (a corpus-wide token model) on every call.
    * The hot set is ≤ 2·buckets keys by construction, so an entry is tiny;
    * the map is size-capped as a leak backstop. Caveat (shared with
    * every plan-keyed cache): a dim whose UNDERLYING FILES change
    * under an identical plan replays the stale gate decision — results
    * stay correct (salting never changes join results, only
    * distribution), at worst the skew protection lags one
    * [[clearGateCache]]. */
  private val gateCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.Row])]()
  private[operators] val gateHits =
    new java.util.concurrent.atomic.AtomicLong(0)

  def clearGateCache(): Unit = gateCache.clear()

  /** Stable per-session cache key: the classic implementation's
    * `sessionUUID` (unique for the JVM's life — never reused the way an
    * identity hash can be after GC). The accessor is `private[sql]` at
    * the Scala level but public bytecode, so it is reached reflectively
    * (method handle resolved once); any session without it falls back
    * to the identity hash, keeping the helper total. */
  private[graft] def sessionKey(sess: org.apache.spark.sql.SparkSession)
      : String =
    try sessionUuidMethod.invoke(sess).asInstanceOf[String]
    catch { case scala.util.control.NonFatal(_) =>
      s"idhash-${System.identityHashCode(sess)}" }

  private lazy val sessionUuidMethod =
    classOf[org.apache.spark.sql.classic.SparkSession]
      .getMethod("sessionUUID")

  /** `memo`'s value for (`sess`, `dir`), or `build`'s result stored
    * there on a miss. `build` runs OUTSIDE the map's bin lock — a Spark
    * job under computeIfAbsent would block unrelated readers sharing
    * the bin — so a lost race runs one spare build, and the first
    * stored value wins. */
  private[graft] def sessionMemo[V](
      memo: java.util.concurrent.ConcurrentHashMap[String, V],
      sess: org.apache.spark.sql.SparkSession, dir: String)(build: => V): V = {
    val key = s"${sessionKey(sess)}|$dir"
    val hit = memo.get(key)
    if (hit != null) hit
    else {
      val built = build
      val prev = memo.putIfAbsent(key, built)
      if (prev == null) built else prev
    }
  }

  private def cachedHotKeys(dim: DataFrame, key: String, weightCol: String,
      buckets: Int): DataFrame = {
    val sess = dim.sparkSession
    // sessionUUID, not hashCode: identity hashes can be reused after a
    // closed session is collected, which would replay another session's
    // hot list (stale-but-harmless for correctness, still wrong), and a
    // stable key makes the size-capped clear the only retention path
    val cacheKey = s"${SkewOps.sessionKey(sess)}|" +
      s"${dim.queryExecution.analyzed.semanticHash()}|$key|$weightCol|$buckets"
    // leak backstop OUTSIDE the mapping function: ConcurrentHashMap
    // forbids mutating other mappings from inside computeIfAbsent
    // (clear() there can deadlock on bin locks or drop the in-flight
    // entry), and the gate's Spark job should not run under a bin
    // lock either — so compute eagerly here and use putIfAbsent,
    // accepting a rare duplicate gate job over a blocked thread
    var cached = gateCache.get(cacheKey)
    if (cached == null) {
      if (gateCache.size > 256) gateCache.clear()
      val df = hotKeys(dim, key, weightCol, buckets)
      val computed = (df.schema, df.collect())
      val prev = gateCache.putIfAbsent(cacheKey, computed)
      cached = if (prev == null) computed else prev
    } else gateHits.incrementAndGet()
    val (schema, rows) = cached
    sess.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Skew-GATED salted equi-join of a skewed `fact` against `dim` on
    * `key`: a hot key's fact rows get a deterministic salt in
    * [0, buckets) derived from `saltFrom` (NOT random — reruns must
    * produce identical partitioning for retry safety) and its dim row
    * is replicated `buckets`× with every salt value, so the key spreads
    * over `buckets` reducers instead of one — paid ONLY for keys that
    * are actually hot. `weightCol` is a column of `dim` holding the
    * fact-side row count for that key (every call site already has
    * one — the frequency/df/count column IS the probe-row count); a
    * key is hot when its share of the total exceeds `1/(2·buckets)`,
    * i.e. it would fill more than half a reducer by itself.
    * Consequences, both by construction:
    *
    *  - at most `2·buckets` keys can exceed that share, so the hot set
    *    is always broadcastable (≤ 2048 keys at the 1024-bucket cap) —
    *    no "what if the hot list is huge" failure mode;
    *  - on a skew-free corpus the hot set is EMPTY: every row gets
    *    the constant salt 0, the dim side replicates nothing, and
    *    AQE's empty-relation propagation folds both probe joins into
    *    null-literal projections — the join's WORK is that of the
    *    plain equi-join. The residual wall-clock cost is the gate's
    *    serialized critical path (the dim aggregate must materialize
    *    before the fact stages replan): StressSpec prices it at
    *    ~1.3–1.4× plain on a 1.2M-posting local run, a latency
    *    constant that amortizes as the fact side grows — vs the
    *    1.25–2.65× PROPORTIONAL replication insurance the
    *    unconditional salting it replaced measured there, which
    *    worsens with bucket count.
    *
    * The gate itself costs one scalar aggregate + the share filter
    * over `dim`'s key set — vocabulary-sized work, noise next to the
    * postings. It runs as its own small job at plan-construction time
    * (the two dim reads inside it share one reused exchange —
    * SkewOpsSpec), is memoized per (session, dim plan) in
    * [[clearGateCache]]'s cache, and the MAIN query then reads the
    * dim subtree exactly once (replication against the local hot
    * list) — so repeat calls over one corpus pay the gate zero times,
    * the round-8 critique's remaining latency constant. Salting stays
    * deterministic (hash of `saltFrom`, threshold from exact counts),
    * so retries repartition identically and results are bit-equal to
    * the plain join.
    *
    * `joinType` extends the contract to left joins: each fact row
    * carries exactly one salt and its key's dim row exists AT that salt
    * (all salts when hot, salt 0 otherwise), so unmatched-fact
    * preservation is identical to the plain `fact.join(dim, key,
    * "left")` — including null-key fact rows, which match nothing and
    * survive with null dim columns. */
  def hotSaltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltFrom: String, buckets: Int, weightCol: String,
      joinType: String = "inner"): DataFrame = {
    require(buckets > 1, "need at least 2 salt buckets")
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer", s"unsupported salted join type $joinType")
    val hot = broadcast(cachedHotKeys(dim, key, weightCol, buckets))
    val salted = fact.join(hot, Seq(key), "left")
      .withColumn("_salt", when(col("_hot").isNotNull,
        pmod(xxhash64(col(saltFrom)), lit(buckets)).cast("int"))
        .otherwise(lit(0)))
      .drop("_hot")
    val replicated = dim.join(hot, Seq(key), "left")
      .withColumn("_salt", explode(when(col("_hot").isNotNull,
        sequence(lit(0), lit(buckets - 1))).otherwise(array(lit(0)))))
      .drop("_hot")
    salted.join(replicated, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Two-phase salted aggregation: partial-aggregate on (keys, salt)
    * first — splitting each hot key's rows over `buckets` reducers —
    * then merge the partials per key. `partials` maps an input column
    * to its partial aggregate; `merges` merges partial columns.
    * (Plain partial/final hash aggregation already does this
    * map-side; explicit salting helps when the map-side hash table
    * itself thrashes on a hot key's collision chain, or when the
    * aggregate is not algebraic map-side.) */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFrom: String,
      buckets: Int, partials: Seq[Column], merges: Seq[Column]): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(col(saltFrom)), lit(buckets)))
      .groupBy(keys.map(col) :+ col("_salt"): _*)
      .agg(partials.head, partials.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(merges.head, merges.tail: _*)
}
