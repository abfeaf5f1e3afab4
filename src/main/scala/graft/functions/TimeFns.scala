package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Time helpers mirroring the reference's semantics.
  *
  *  - `t` derived epoch-µs column (reference `data.py:25-30`:
  *    `data_time.astype(int64)//1000 + data_time_us`);
  *  - interval-string parsing with the reference's unit quirks
  *    (`data.py:37-42`: ms/s/m translated to pandas offsets);
  *  - round-to-NEAREST bucket assignment (`data.py:12-14`:
  *    `round(t/Δ)*Δ` — buckets are *centered* on multiples of Δ, unlike
  *    Spark's `window()` which floors).
  *
  * All bucket math is integer µs arithmetic → deterministic across
  * engines (no float rounding), which the DuckDB-oracle hash compare
  * requires. Divergence from the reference: Python `round` is
  * half-to-even; we use half-up (`(t + Δ/2) div Δ`), which differs only
  * on exact half-bucket ties — measure-zero for real timestamps, and
  * documented here.
  */
object TimeFns {

  /** Epoch µs from the reference's split (second-precision ts + µs
    * remainder) representation, `hdbpp.py:84-87`. */
  def epochUsSplit(dataTime: Column, dataTimeUs: Column): Column =
    unix_micros(dataTime) + coalesce(dataTimeUs.cast("long"), lit(0L))

  /** Parse an interval string like "500ms", "30s", "15m", "2h", "1d"
    * into microseconds. Unit set mirrors data.py:37-42 (+h/d which
    * pandas accepted natively). A zero interval, or one past
    * `Long.MaxValue` µs, is an `IllegalArgumentException` here rather
    * than a division by zero or a wrapped negative Δ once the query
    * runs. */
  def intervalUs(freq: String): Long = {
    val m = "^([0-9]+)(ms|us|s|m|h|d)$".r
    freq.trim match {
      case m(n, u) =>
        val k = u match {
          case "us" => 1L
          case "ms" => 1000L
          case "s" => 1000000L
          case "m" => 60L * 1000000L
          case "h" => 3600L * 1000000L
          case "d" => 86400L * 1000000L
        }
        val d = try Math.multiplyExact(n.toLong, k) catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"interval '$freq' overflows a 64-bit µs count")
        }
        if (d <= 0) throw new IllegalArgumentException(
          s"interval must be positive, got '$freq'")
        d
      case other => throw new IllegalArgumentException(
        s"bad interval '$other' (expected e.g. 30s, 15m, 500ms)")
    }
  }

  /** Round-to-nearest bucket label in µs: `((t + Δ/2) div Δ) * Δ`,
    * computed as `h - (h mod Δ)` with h = t + Δ/2 so the arithmetic is
    * EXACT integer math (Spark's `/` on longs is double division, whose
    * rounding could drift one bucket vs the oracle's integer `//`). */
  def roundBucketUs(tUs: Column, deltaUs: Long): Column = {
    val h = tUs + lit(deltaUs / 2)
    h - pmod(h, lit(deltaUs))
  }

  /** Same, for use in oracle SQL — the positive-mod form `h - pmod(h,
    * Δ)`, NOT `(h // Δ) * Δ`: DuckDB's `//` truncates toward zero
    * where the Spark side floors, which would shift every
    * negative-time bucket by Δ. Identical for h ≥ 0. */
  def roundBucketSql(tExpr: String, deltaUs: Long): String = {
    val h = s"($tExpr + ${deltaUs / 2})"
    s"($h - ((($h % $deltaUs) + $deltaUs) % $deltaUs))"
  }

  /** UTC calendar day ("yyyy-MM-dd" string) of an epoch-µs column —
    * pure arithmetic plus a date→string cast, INDEPENDENT of the
    * session time zone. `date_format(ts, "yyyy-MM-dd")` renders in the
    * session zone, so on a non-UTC session it silently buckets
    * near-midnight rows into the neighboring day — and a `period`
    * derived that way breaks every UTC-day consumer (PeriodCache's
    * closed-day test, day-range enumeration). floor() keeps pre-1970
    * instants on their correct day too; the double division is exact
    * for |t| < 2⁵³ µs (~year 2255), far past any archive timestamp. */
  def utcDay(tUs: Column): Column = utcDayDate(tUs).cast("string")

  /** [[utcDay]]'s DateType form, for consumers that need the date
    * itself (day enumeration) — saves a date→string→date round trip. */
  def utcDayDate(tUs: Column): Column =
    date_add(to_date(lit("1970-01-01")),
      floor(tUs / lit(86400000000L)).cast("int"))

  /** Naive-UTC TIMESTAMP_NTZ of an epoch-µs column — [[MicrosOf]]'s
    * inverse, a pure reinterpret of the internal µs long. The obvious
    * spellings are all session-zone dependent:
    * `timestamp_micros(t).cast("timestamp_ntz")` renders the session
    * wall clock, and even `convert_timezone('UTC', timestamp_micros(t))`
    * casts LTZ→NTZ in the session zone FIRST, so a DST-ambiguous
    * fall-back wall time resolves to the wrong instant (off by one
    * hour for one hour a year). The reinterpret has no zone anywhere. */
  def ntzOfMicros(tUs: Column): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      NtzOfMicros(org.apache.spark.sql.GraftPlanBridge.expression(tUs)))

  /** Inclusive-both-ends time filter (reference `data.py:104-105`). */
  def inRangeInclusive(tUs: Column, t0Us: Long, t1Us: Long): Column =
    tUs >= lit(t0Us) && tUs <= lit(t1Us)

  /** Whether [[MicrosOf]] applies to the column's type. */
  def isTimestampLike(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** C3 — naive-UTC timestamp parsing (reference `utils.py:14-19`): an
    * ISO timestamp with no zone is ASSUMED UTC; an explicit offset is
    * honored then normalized to UTC; date-only means midnight UTC.
    * Returns epoch-µs. */
  def parseNaiveUtc(s: String): Long = {
    import java.time._
    import java.time.format.DateTimeFormatter
    // space-separated timestamps are normalized to 'T' on BOTH paths —
    // the reference's parser accepts "2026-01-01 00:00:00+02:00" too
    val trimmed = s.trim.replace(' ', 'T')
    val asOffset =
      try Some(OffsetDateTime.parse(trimmed,
        DateTimeFormatter.ISO_OFFSET_DATE_TIME))
      catch { case _: Exception => None }
    val utc = asOffset match {
      case Some(odt) => odt.atZoneSameInstant(ZoneOffset.UTC)
      case None =>
        val local =
          try LocalDateTime.parse(trimmed)
          catch {
            case _: Exception => LocalDate.parse(trimmed).atStartOfDay()
          }
        local.atZone(ZoneOffset.UTC)
    }
    utc.toInstant.getEpochSecond * 1000000L + utc.toInstant.getNano / 1000L
  }

  /** C3 as a COLUMN — the distributed form of [[parseNaiveUtc]]
    * (reference `utils.py:14-19`) over a string column mixing the
    * forms the reference's `/query` endpoint receives: second-precision
    * ISO timestamps with 'T' or ' ' separators (naive ⇒ UTC), date-only
    * strings (⇒ midnight UTC), and explicit `±hh:mm` offsets
    * (normalized to UTC). All built-in codegen'd functions plus the
    * [[MicrosOf]] reinterpret, and — unlike `to_timestamp` on a naive
    * string — independent of the session timezone: naive forms parse
    * as TIMESTAMP_NTZ and are read as UTC by construction, offset
    * forms parse to an instant whose epoch-µs needs no zone. */
  def parseNaiveUtcCol(c: Column): Column = {
    val s = translate(trim(c), " ", "T")
    def utcMicros(ntz: Column): Column =
      org.apache.spark.sql.GraftPlanBridge.column(
        MicrosOf(org.apache.spark.sql.GraftPlanBridge.expression(ntz)))
    // fractional seconds (the reference's dateutil parser accepts
    // them): pad the fraction to exactly 6 digits in place so ONE µs
    // pattern parses any precision 1–6 — with or without a trailing
    // offset (the fraction is the only '.' either way)
    val frac = regexp_extract(s, "\\.([0-9]{1,6})", 1)
    val norm = regexp_replace(s, lit("\\.[0-9]+"),
      concat(lit("."), rpad(frac, 6, "0")))
    // 'Z' is an offset spelling too (the most common UTC form on the
    // wire) — the XXX pattern parses it; missing it here silently
    // null'd Z-suffixed inputs where the scalar twin accepts them
    val hasOffset = s.rlike("([+-][0-9]{2}:[0-9]{2}|Z)$")
    val hasFrac = s.contains(".")
    when(hasOffset && hasFrac,
      unix_micros(to_timestamp(norm, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
      .when(hasOffset,
        unix_micros(to_timestamp(s, "yyyy-MM-dd'T'HH:mm:ssXXX")))
      .when(length(s) === 10,
        utcMicros(to_timestamp_ntz(s, lit("yyyy-MM-dd"))))
      .when(hasFrac,
        utcMicros(to_timestamp_ntz(norm,
          lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))))
      .otherwise(
        utcMicros(to_timestamp_ntz(s, lit("yyyy-MM-dd'T'HH:mm:ss"))))
  }
}

/** `micros_of(ts)` — the epoch-µs long of a timestamp column as a pure
  * REINTERPRET of Catalyst's internal representation (TimestampType and
  * TimestampNTZType both store a long of microseconds): no timezone
  * arithmetic, no cast, no rounding. The mapping `t = micros_of(ts)` is
  * therefore a bijection with the stored value, which is what lets
  * [[graft.plans.DerivedDivBounds]] rewrite `micros_of(ts) cmp lit`
  * into an equivalent raw `ts cmp timestamp-literal` predicate that
  * reaches the parquet footer (row-group pruning). For NTZ data the
  * result is the naive wall-clock read as UTC — exactly the DuckDB
  * oracle's `epoch_us(ts)`; `unix_micros(cast(ts as timestamp))` would
  * compute the same ONLY under a UTC session zone, and its cast blocks
  * pushdown. */
case class MicrosOf(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case TimestampType | TimestampNTZType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"micros_of requires a timestamp argument, got ${dt.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "micros_of"

  // the internal value IS the result — identity on the physical long
  override def nullSafeEval(v: Any): Any = v

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)

  override protected def withNewChildInternal(
      newChild: Expression): MicrosOf = copy(child = newChild)
}

object MicrosOf {
  private[graft] val builder = (args: Seq[Expression]) => {
    require(args.length == 1, "micros_of takes exactly 1 argument")
    MicrosOf(args.head)
  }

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit =
    DotE8.registerOnce(spark, "micros_of", builder)
}

/** `ntz_of_micros(t)` — [[MicrosOf]]'s inverse: the TIMESTAMP_NTZ whose
  * internal µs long IS the input (naive UTC by construction). See
  * [[TimeFns.ntzOfMicros]] for why the cast/convert_timezone spellings
  * are all session-zone dependent where this reinterpret is not. */
case class NtzOfMicros(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.LongType =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"ntz_of_micros requires a bigint argument, got ${dt.sql}")
  }
  override def dataType: DataType = TimestampNTZType
  override def prettyName: String = "ntz_of_micros"

  // the input long IS the internal NTZ value — identity
  override def nullSafeEval(v: Any): Any = v

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)

  override protected def withNewChildInternal(
      newChild: Expression): NtzOfMicros = copy(child = newChild)
}
