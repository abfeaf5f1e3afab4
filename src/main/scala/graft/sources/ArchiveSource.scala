package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TimeFns

/** Pluggable storage behind the engine.
  *
  * The reference hand-rolls per-(att_conf_id, period)-day Cassandra
  * queries with chunked asyncio fan-out (`hdbpp.py:274-321`). In Spark
  * that whole layer collapses into ONE declarative scan: the source
  * returns a DataFrame whose filters on `att_conf_id` / `period` /
  * `data_time` are pushed down by Catalyst (partition pruning on
  * partitioned Parquet; CQL pushdown with the Cassandra connector —
  * config-level swap, same plan shape).
  *
  * Scale design (100 TB): data lives partitioned by
  * `(att_conf_id, period)` exactly like the reference's Cassandra
  * partition key, so a query for k attributes × d days touches only
  * k×d partitions regardless of total archive size; no shuffle is
  * needed until aggregation, and the per-day union (reference U1) is
  * implicit in the scan.
  */
trait ArchiveSource {
  def spark: SparkSession

  /** Point rows for the given conf ids with period ∈ [p0, p1]
    * ("YYYY-MM-DD"), columns per TangoTypes.pointSchema. */
  def points(attConfIds: Seq[Int], p0: String, p1: String): DataFrame

  /** Catalog: att_conf (cs_name, att_name, att_conf_id, data_type). */
  def attConf: DataFrame

  /** Catalog: att_names (cs_name, domain, family, member, name). */
  def attNames: DataFrame

  /** Attribute-properties log (att_conf_id, recv_time µs, insert_time
    * µs, label, unit, …) — the reference's att_parameter table
    * (`hdbpp.py:167-177`), feeding
    * [[graft.api.ArchiveApi.parameterAt]]. */
  def attParameter: DataFrame

  /** Archiving-event log (att_conf_id, time µs, event) — the
    * reference's att_history table (`hdbpp.py:180-191`), feeding
    * [[graft.api.ArchiveApi.history]]. */
  def attHistory: DataFrame
}

object ArchiveSource {
  /** Multi-type scan: resolve each requested attribute's data table
    * from the catalog (`att_conf.data_type`, reference
    * `hdbpp.py:404-410`), `scan` each table only for ITS attribute ids,
    * and union with `value_r` widened to double (numeric Tango types
    * only — string/encoded attributes need their own pipeline, as in
    * the reference where they simply are not plottable).
    *
    * Scale: the catalog lookup is a driver-side collect of O(#requested
    * attributes) rows — the same role as the reference's `configs`
    * dict — and each per-table scan keeps the source's own pruning. */
  private[sources] def resolvedUnion(src: ArchiveSource,
      attConfIds: Seq[Int])(
      scan: (String, Seq[Int]) => DataFrame): DataFrame = {
    val wanted = src.attConf
      .where(col("att_conf_id").isin(attConfIds: _*))
      .select(col("att_conf_id"), col("data_type"))
      .collect()
      .map(r => r.getInt(0) -> r.getString(1))
    val frames = wanted.groupBy { case (_, dt) => s"att_$dt" }
      .toSeq.sortBy(_._1).map { case (tbl, ids) =>
        scan(tbl, ids.map(_._1).toSeq)
          .withColumn("value_r", col("value_r").cast("double"))
      }
    frames.reduceOption(_ unionByName _)
      .getOrElse(src.spark.createDataFrame(
        src.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.model.TangoTypes.pointSchema(
          org.apache.spark.sql.types.DoubleType)))
  }
}

/** Parquet-backed archive laid out as
  * `root/att_scalar_<type>_<rw>/att_conf_id=…/period=…/…parquet`.
  * Both partition predicates prune at planning time. */
final class ParquetArchiveSource(val spark: SparkSession, root: String,
    table: String = "att_scalar_devdouble_ro") extends ArchiveSource {

  def points(attConfIds: Seq[Int], p0: String, p1: String): DataFrame =
    spark.read.parquet(s"$root/$table")
      .where(col("att_conf_id").isin(attConfIds: _*)
        && col("period").between(p0, p1))

  def attConf: DataFrame = spark.read.parquet(s"$root/att_conf")
  def attNames: DataFrame = spark.read.parquet(s"$root/att_names")
  def attParameter: DataFrame = spark.read.parquet(s"$root/att_parameter")
  def attHistory: DataFrame = spark.read.parquet(s"$root/att_history")

  /** Multi-type scan ([[ArchiveSource.resolvedUnion]]), each per-type
    * table pruned on (att_conf_id, period) like [[points]]. */
  def pointsResolved(attConfIds: Seq[Int], p0: String,
      p1: String): DataFrame =
    ArchiveSource.resolvedUnion(this, attConfIds) { (tbl, ids) =>
      spark.read.parquet(s"$root/$tbl")
        .where(col("att_conf_id").isin(ids: _*)
          && col("period").between(p0, p1))
    }
}

/** Adapter exposing the driver's synthetic `events` table
  * (`event_id, ts, user_id, event_type, value, props` — see TESTDATA.md)
  * in the engine's archive shape, treating `(user_id, event_type)` as
  * the attribute key the way the reference treats
  * `cs/domain/family/member/name`:
  *
  *   att_conf_id = user_id * 8 + index(event_type)
  *   att_name    = "u<user_id>/<event_type>"  (4-part analog collapsed)
  *   data_time   = ts,  value_r = value,  period = utc date of ts
  *
  * Everything is column expressions over one parquet scan — filters on
  * ts/event_type still push down to the footer.
  */
final class EventsArchiveAdapter(val spark: SparkSession, sfDir: String)
    extends ArchiveSource {

  // self-register like the operators do with poly_hash31: a NAIVE
  // filter on the derived `t` must row-group-prune even in sessions
  // built without GraftExtensions or the harness entry points
  graft.plans.DerivedDivBounds.register(spark)
  graft.functions.MicrosOf.register(spark)

  private val eventTypes =
    Seq("click", "error", "purchase", "signup", "view") // sorted, stable ids

  /** The driver's `events.parquet` has shipped `ts` under TWO
    * encodings: parquet `timestamp[us]` (unadjusted — the current
    * files) and legacy TIMESTAMP(NANOS,false), which Spark 4 rejects
    * at scan time by default ([PARQUET_TYPE_ILLEGAL]); `nanosAsLong`
    * (runtime-settable, harmless for µs data) reads the latter as a
    * bigint of epoch-nanoseconds. [[pointsAll]] dispatches on the
    * RESULTING Spark type, so every encoding flows through the same
    * downstream plan.
    *
    * Row-group-level pruning caveat (measured, EncodingMatrixSpec):
    * Spark's parquet filter layer constructs a stats predicate only
    * for ADJUSTED-to-UTC timestamp columns — on unadjusted
    * `timestamp[us]` files (the driver's current encoding) the time
    * bound appears in the scan's PushedFilters metadata but every
    * row group is read, REGARDLESS of the Spark-side read type (LTZ
    * via disabled NTZ inference or an explicit schema changes
    * nothing: the FILE annotation governs). Epoch-long and adjusted-
    * µs files skip normally. The engine's own layout is unaffected:
    * [[ArchiveWriter]] writes adjusted µs (prunable) and the
    * `(att_conf_id, period)` partition dirs prune at day granularity
    * before row-group stats even matter. */
  def raw: DataFrame = rawFrame

  /** Built once per adapter. Multi-file event dirs go through
    * [[TsStatsFileIndex]] so time-window queries skip whole files on
    * footer min/max — the pruning tier that survives the unadjusted-µs
    * encoding (see the row-group caveat above); the driver's
    * single-file layout keeps the stock reader path, where the index
    * could only ever return the one file anyway.
    *
    * `nanosAsLong` is set ONLY when the plain read rejects the files
    * as TIMESTAMP(NANOS) — the conf must then stay set for the life of
    * the session (the scan re-reads it at execution planning, so a
    * scoped set-and-restore would break the returned frame), but a
    * session over current-encoding data is left untouched: an earlier
    * version set it unconditionally on every access, silently changing
    * how UNRELATED parquet reads in the caller's session handle NANOS
    * files (bigint epoch-nanos instead of the loud default failure). */
  private lazy val rawFrame: DataFrame = {
    val path = s"$sfDir/events.parquet"
    def build(): DataFrame =
      if (TsStatsFileIndex.eligible(spark, path))
        TsStatsFileIndex.read(spark, path, "ts")
      else spark.read.parquet(path)
    try build()
    catch {
      case e: Throwable if EventsArchiveAdapter.isIllegalParquetType(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        build()
    }
  }

  /** events in archive-point shape, with the derived epoch-µs `t`.
    *
    * Encoding dispatch for `t`:
    *  - long epoch-nanos (legacy): `ts div 1000` — exact long division
    *    (Spark's `/` on longs is double division, lossy above 2^53);
    *  - timestamp / timestamp_ntz (current): `micros_of(ts)` — a pure
    *    reinterpret of the internal µs long ([[graft.functions
    *    .MicrosOf]]), timezone-free and bijective, matching DuckDB's
    *    `epoch_us(ts)` bit-for-bit.
    * Either way [[graft.plans.DerivedDivBounds]] (registered above)
    * rewrites range predicates on `t` into raw-`ts` bounds the parquet
    * footer can prune on — no manual predicate pairing needed. */
  def pointsAll: DataFrame = {
    // an UNKNOWN event type folds to a null id (matching the oracle's
    // CASE-without-ELSE) — the old -1 default produced att_conf_id =
    // 8·user_id − 1, silently ALIASING the unknown type onto the
    // previous user's slot-7 attribute
    val typeId = eventTypes.zipWithIndex
      .foldLeft(lit(null).cast("int")) { case (acc, (t, i)) =>
        when(col("event_type") === t, lit(i)).otherwise(acc)
      }
    val df = raw
    val tUs = EventsArchiveAdapter.tsMicrosExpr(df.schema("ts").dataType)
    df.select(
      col("event_id").as("point_id"),
      col("user_id"),
      col("event_type"),
      (col("user_id") * 8 + typeId).as("att_conf_id"), // long, like the oracle's
      concat(lit("u"), col("user_id"), lit("/"), col("event_type"))
        .as("att_name"),
      // tz-free UTC day (date_format renders in the session zone)
      graft.functions.TimeFns.utcDay(tUs).as("period"),
      timestamp_micros(tUs).as("data_time"),
      tUs.as("t"),
      col("value").as("value_r"),
      col("props").as("error_desc"))
  }

  def points(attConfIds: Seq[Int], p0: String, p1: String): DataFrame =
    pointsAll.where(col("att_conf_id").isin(attConfIds: _*)
      && col("period").between(p0, p1))

  /** Catalogs derive from a `distinct()` over the events scan — a full
    * shuffle per action. They are plain frames, like
    * [[ParquetArchiveSource]]'s: the 60 s memo of the reference's
    * catalog fetch (`hdbpp.py:213-228`, S5) lives in the one reader that
    * repeats them, the HTTP tier ([[graft.server.HttpShim]]). */
  def attConf: DataFrame =
    pointsAll.select("att_name", "att_conf_id").distinct()
      .withColumn("cs_name", lit("events.cs:10000"))
      .withColumn("data_type", lit("scalar_devdouble_ro"))

  def attNames: DataFrame =
    raw.select(col("user_id"), col("event_type")).distinct()
      .select(
        lit("events.cs:10000").as("cs_name"),
        lit("events").as("domain"),
        lit("stream").as("family"),
        concat(lit("u"), col("user_id")).as("member"),
        col("event_type").as("name"))

  /** Synthesized att_parameter view: the events table has no property
    * log, so each attribute gets ONE parameter row at its first point
    * (label = attribute name, engine-native µs times). Real archives
    * use the physical table ([[ArchiveWriter.writeParameters]]). */
  def attParameter: DataFrame =
    pointsAll.groupBy(col("att_conf_id"), col("att_name"))
      .agg(min(col("t")).as("recv_time"))
      .select(col("att_conf_id"), col("recv_time"),
        col("recv_time").as("insert_time"), col("att_name").as("label"),
        lit("au").as("unit"), lit("1").as("standard_unit"),
        lit("%6.2f").as("format"), lit(null).cast("string")
          .as("description"))

  /** Synthesized att_history view: one "add" event per attribute at its
    * first point — the adapter analog of the archiver's event log. */
  def attHistory: DataFrame =
    pointsAll.groupBy(col("att_conf_id"))
      .agg(min(col("t")).as("time"))
      .select(col("att_conf_id"), col("time"), lit("add").as("event"))
}

/** Cassandra-connector-backed [[ArchiveSource]] — the deployment the
  * reference actually runs against (its whole `hdbpp.py` is hand-rolled
  * CQL over `att_conf`/`att_names`/`att_parameter`/`att_history`/
  * `att_scalar_*` tables, `hdbpp.py:95-208`) and BASELINE.json's stated
  * Spark approach ("Spark SQL over Cassandra connector").
  *
  * The scan is declarative: `spark.read.format("org.apache.spark.sql
  * .cassandra")` + a `where` the connector translates to CQL. The
  * pushdown-critical part is [[CassandraArchiveSource.pointsPredicate]]:
  * HDB++'s partition key is `((att_conf_id, period))`, and CQL cannot
  * range-scan a partition key — a `period BETWEEN` would degrade to a
  * full-table scan + Spark-side filter. Enumerating the days into an
  * `IN` list instead maps every (id, day) to a direct partition read —
  * the reference's per-day async fan-out (`hdbpp.py:274-321`) expressed
  * as one predicate. Day fan-out count is bounded by the UI's range
  * picker exactly as in the reference.
  *
  * OFFLINE SANDBOX NOTE: no connector jar and no cluster exist here, so
  * `load()` is untestable in this environment; the class compiles
  * against the stable `format(...)` string API and the predicate
  * mapping is unit-tested (ArchiveSourceSpec). Deployments add
  * `com.datastax.spark:spark-cassandra-connector_2.13` and
  * `spark.cassandra.connection.host` — no code change. */
final class CassandraArchiveSource(val spark: SparkSession,
    keyspace: String = "hdbpp",
    table: String = "att_scalar_devdouble_ro") extends ArchiveSource {

  private def read(t: String): DataFrame =
    spark.read.format(CassandraArchiveSource.Format)
      .options(Map(
        CassandraArchiveSource.KeyspaceOption -> keyspace,
        CassandraArchiveSource.TableOption -> t))
      .load()

  def points(attConfIds: Seq[Int], p0: String, p1: String): DataFrame =
    read(table)
      .where(CassandraArchiveSource.pointsPredicate(attConfIds, p0, p1))

  def attConf: DataFrame = read("att_conf")
  def attNames: DataFrame = read("att_names")
  def attParameter: DataFrame = read("att_parameter")
  def attHistory: DataFrame = read("att_history")

  /** Multi-type scan ([[ArchiveSource.resolvedUnion]]) with
    * partition-key pushdown per scan as in [[points]]. */
  def pointsResolved(attConfIds: Seq[Int], p0: String,
      p1: String): DataFrame =
    ArchiveSource.resolvedUnion(this, attConfIds) { (tbl, ids) =>
      read(tbl)
        .where(CassandraArchiveSource.pointsPredicate(ids, p0, p1))
    }
}

object CassandraArchiveSource {
  /** The wire contract with the (offline-unresolvable) connector jar,
    * pinned as constants so ArchiveSourceSpec's compile-fence test can
    * assert them without the jar present. An ONLINE build must
    * additionally verify: (1) `Class.forName(ConnectorClass)` resolves
    * from `com.datastax.spark:spark-cassandra-connector_2.13`, (2)
    * `spark.read.format(Format)` plans a scan against a live keyspace,
    * and (3) `EXPLAIN` of [[points]] shows both partition-key `IN`
    * filters in the connector's pushed-predicate list (see README
    * §"Online validation"). */
  val Format = "org.apache.spark.sql.cassandra"
  val ConnectorClass = "org.apache.spark.sql.cassandra.DefaultSource"
  val KeyspaceOption = "keyspace"
  val TableOption = "table"

  /** Inclusive day enumeration "YYYY-MM-DD" — the reference's
    * `timestamp_to_period_range` (`hdbpp.py:16-21`); empty when p0 is
    * after p1. Also [[graft.cache.ArchiveCache.PeriodCache.range]]'s
    * day fan-out. */
  def periods(p0: String, p1: String): Seq[String] =
    Iterator.iterate(java.time.LocalDate.parse(p0))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse(p1)))
      .map(_.toString).toSeq

  /** Partition-key predicate: `IN` on BOTH partition-key columns (the
    * connector converts each to direct partition reads); never a range
    * on `period` — see the class doc for why that would unpush. */
  def pointsPredicate(attConfIds: Seq[Int], p0: String,
      p1: String): org.apache.spark.sql.Column =
    col("att_conf_id").isin(attConfIds: _*) &&
      col("period").isin(periods(p0, p1): _*)
}

object EventsArchiveAdapter {
  /** True iff `e` (or a cause) is Spark's rejection of an unreadable
    * parquet type — the signal that the files are legacy
    * TIMESTAMP(NANOS) and need `nanosAsLong`. Error-class name first
    * (stable), message substring as a fallback for wrapped throws. */
  private[sources] def isIllegalParquetType(e: Throwable): Boolean =
    if (e == null) false
    else {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("PARQUET_TYPE_ILLEGAL") ||
        m.contains("Illegal Parquet type") ||
        isIllegalParquetType(e.getCause)
    }

  /** THE ts-encoding dispatch — epoch-µs `t` from any supported `ts`
    * type, shared by [[EventsArchiveAdapter.pointsAll]] and the
    * streaming queries (api/EventQueries q32–q34) so the two paths
    * cannot drift; anything unsupported fails loudly here rather than
    * as a downstream `micros_of` type-check error. */
  def tsMicrosExpr(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.LongType => expr("ts div 1000")
    case t if graft.functions.TimeFns.isTimestampLike(t) =>
      expr("micros_of(ts)")
    case t => throw new IllegalStateException(
      s"events.ts has unsupported type ${t.sql} (expected " +
        "epoch-nano bigint, timestamp, or timestamp_ntz)")
  }

  /** µs-range predicates over [[EventsArchiveAdapter.pointsAll]]'s
    * derived `t`. They are PLAIN range filters: the pushable raw-`ts`
    * bound is derived by [[graft.plans.DerivedDivBounds]] (which the
    * adapter registers unconditionally) for BOTH storage encodings —
    * `t = ts div 1000` over legacy epoch-nanos longs and
    * `t = micros_of(ts)` over timestamp/timestamp_ntz data. Earlier
    * rounds paired an epoch-NANO literal bound on the raw column here
    * manually; that hard-wired one encoding and broke outright when the
    * driver regenerated `events.parquet` as `timestamp[us]` — the rule
    * route is encoding-agnostic and covers naive user filters too
    * (PlanGuardSpec / FreshSessionSpec assert the footer pushdown). */
  def tsRangeUs(t0Us: Long, t1Us: Long): org.apache.spark.sql.Column =
    graft.functions.TimeFns.inRangeInclusive(col("t"), t0Us, t1Us)

  /** Half-open [t0, t1). */
  def tsGeLtUs(t0Us: Long, t1Us: Long): org.apache.spark.sql.Column =
    col("t") >= t0Us && col("t") < t1Us

  /** Open (t0, t1). */
  def tsGtLtUs(t0Us: Long, t1Us: Long): org.apache.spark.sql.Column =
    col("t") > t0Us && col("t") < t1Us

  /** Strictly-before cutoff. */
  def tsLtUs(t1Us: Long): org.apache.spark.sql.Column =
    col("t") < t1Us
}
