package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GlobFns

/** Catalog / lookup operators: wildcard search (F5/F6/O1), control-system
  * listing (O2), parameter point-in-time lookup (S6/O3), history scan
  * (S7/O4).
  *
  * Scale: catalogs are ~100k rows (reference `hdbpp.py:216-218`) — tiny
  * next to the point data. They are BROADCAST into any join against
  * point scans (J1), never shuffled. The searches here evaluate the
  * regex inside whole-stage codegen; [[graft.server.HttpShim]] matches
  * a 60 s snapshot of [[formatted]] in process, as the reference does.
  */
object Catalog {

  /** The formatted `domain/family/member/name` attribute every catalog
    * search matches and sorts (reference `hdbpp.py:219-228`). */
  private val attribute = concat_ws("/", col("domain"), col("family"),
    col("member"), col("name")).as("attribute")

  /** `(cs_name, attribute)` — the catalog's one name projection. */
  def formatted(attNames: DataFrame): DataFrame =
    attNames.select(col("cs_name"), attribute)

  /** F5+O1 — glob search over formatted attribute names, sorted.
    * Reference `server.py:73-89`. `attNames` needs no `cs_name`. */
  def search(attNames: DataFrame, glob: String): DataFrame =
    attNames.select(attribute)
      .where(GlobFns.globMatch(col("attribute"), glob))
      .orderBy("attribute")

  /** F6 — Grafana substring search. Reference `server.py:196-207`. */
  def searchSubstring(attNames: DataFrame, term: String): DataFrame =
    attNames.select(attribute)
      .where(GlobFns.substringMatch(col("attribute"), term))
      .orderBy("attribute")

  /** O2 — distinct control systems, sorted. Reference `server.py:63-70`. */
  def controlSystems(attConf: DataFrame): DataFrame =
    attConf.select(col("cs_name")).distinct().orderBy("cs_name")

  /** S6/O3 — point-in-time lookup: latest row per key strictly before a
    * cutoff (reference `hdbpp.py:167-177`: ORDER BY recv_time DESC
    * LIMIT 1), ties broken by `tieBreak` descending.
    *
    * PRECONDITION: `(keys, timeCol, tieBreak)` identifies at most one
    * row — otherwise every row tied at the max comes back where the
    * reference's LIMIT 1 returns one. This mirrors the reference's own
    * invariant: `recv_time` is att_parameter's Cassandra CLUSTERING
    * key, so duplicates per att_conf_id cannot exist there either;
    * [[graft.sources.ArchiveWriter.writeParameters]] enforces the same
    * last-write-wins uniqueness at ingest.
    *
    * Implemented as a `max_by` hash aggregate, NOT a row_number window:
    * a window partitioned by a low-cardinality key (e.g. 5 event
    * types) funnels the whole table through a few sort tasks, while
    * max_by is a partial/final hash aggregate — constant state per key,
    * map-side combined, skew-immune. */
  def latestBefore(df: DataFrame, keys: Seq[String], timeCol: String,
      cutoffUs: Long, tieBreak: String): DataFrame = {
    val before = df.where(col(timeCol) < cutoffUs)
    // largest (t, tie) == smallest negated pair; TopK's UDAF plans as an
    // ObjectHashAggregate (max_by over a struct degrades to SortAggregate)
    val bounds = before
      .groupBy(keys.map(col): _*)
      .agg(TopK.smallestK(1, -col(timeCol).cast("long"),
        -col(tieBreak).cast("long")).as("_top"))
      .select(keys.map(col) :+ element_at(col("_top"), 1).as("_b"): _*)
    before.join(broadcast(bounds), keys)
      .where(col(timeCol).cast("long") === -col("_b._1")
        && col(tieBreak).cast("long") === -col("_b._2"))
      .drop("_b")
  }

  /** S7/O4 — first n events per key in a time window, ordered by time
    * (reference `hdbpp.py:180-191`: ORDER BY time LIMIT 10), with a
    * 1-based `rn` rank column.
    *
    * Two skew-immune passes instead of one global row_number window:
    * (1) a bounded top-k hash aggregate ([[TopK.smallestK]], ≤ n pairs
    * of state per key, map-side combined) finds each key's n-th
    * (time, tie) boundary; (2) rows at-or-under their key's boundary —
    * exactly n per key since the tie-break is unique — get `rn` from a
    * window over those ≤ n survivors. The expensive sort over the full
    * table never happens; the residual window sorts n rows per key. */
  def firstEvents(df: DataFrame, keys: Seq[String], timeCol: String,
      t0Us: Long, t1Us: Long, n: Int, tieBreak: String): DataFrame = {
    val inRange = df.where(col(timeCol) > t0Us && col(timeCol) < t1Us)
    val bounds = inRange
      .groupBy(keys.map(col): _*)
      .agg(TopK.smallestK(n, col(timeCol).cast("long"),
        col(tieBreak).cast("long")).as("_top"))
      .select(keys.map(col) :+ element_at(col("_top"), -1).as("_kth"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col(tieBreak).asc)
    inRange.join(broadcast(bounds), keys)
      .where(struct(col(timeCol).cast("long"), col(tieBreak).cast("long"))
        <= struct(col("_kth._1"), col("_kth._2")))
      .drop("_kth")
      .withColumn("rn", row_number().over(w))
  }
}
