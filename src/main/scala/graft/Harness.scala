package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Shared measurement harness for the timing mains ([[Bench]],
  * [[Profile]]): ONE definition of the bench-standard session, the
  * warm/measure directories, and the window-calibration gauge, so
  * profile numbers stay comparable to bench numbers by construction —
  * a harness change (conf, warm default) edits one place instead of
  * mains that must agree for cross-artifact comparisons to mean
  * anything. */
object Harness {

  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def warmDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  /** The bench-standard local session: `local[N]` with N shuffle
    * partitions (N = SPARK_GRAFT_CPUS, default 32 — the stated bench
    * harness), UTC, UI off, WARN logs, [[graft.functions.GraftExtensions]]
    * installed (functions, derived bounds, lifted literals), and the
    * legacy parquet nanos flag the driver's events layout needs. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** The run conditions every timing artifact carries, so a number
    * read in another window can be traced to its cause: the session's
    * cpus, the JVM's `-Xmx`, `git describe --dirty` of the working
    * tree, and the data directory measured. */
  def stamp(spark: SparkSession, sf: String): ListMap[String, Any] =
    ListMap(
      "cpus" -> spark.sparkContext.defaultParallelism,
      "xmx" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.findLast(_.startsWith("-Xmx"))
        .getOrElse(s"-Xmx${Runtime.getRuntime.maxMemory >> 20}m"),
      "git" -> scala.util.Try(scala.sys.process.Process(
        Seq("git", "describe", "--always", "--dirty")).!!.trim)
        .getOrElse("unknown"),
      "sf" -> sf)

  /** Rows in the fixed calibration workload — sized so one run takes
    * ~0.5–1 s on the stated 32-core bench harness: long enough to feel
    * CPU contention from the window, short enough that three points of
    * three runs add only seconds to a suite. */
  val CalibrationRows: Long = 4L << 30

  /** ONE run of the fixed synthetic calibration workload: XOR of
    * xxhash64 over a `range` (XOR, not sum: ANSI mode makes a long sum
    * over 4G hashes an overflow error) — no disk, no shuffle beyond
    * the final single-row aggregate, plan-identical every invocation,
    * entirely
    * whole-stage-codegen CPU. Its wall time gauges what the CURRENT
    * window's host contention does to pure compute, so two bench
    * artifacts from different windows can be compared on
    * calibration-normalized ratios instead of inferring the window
    * factor from the suite median (round-15 verdict #2: per-query
    * window sensitivity exceeds the suite median on sub-second
    * queries, so median normalization under-corrects). */
  def calibrationRun(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, CalibrationRows, 1L,
        spark.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(id)) AS h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One calibration POINT = median of `runs` consecutive
    * [[calibrationRun]]s (median, not min: the gauge should reflect
    * the window's typical contention, which min would hide). */
  def calibrationPoint(spark: SparkSession, runs: Int = 3): Double = {
    require(runs > 0, s"calibration runs must be positive, got $runs")
    medianOf(Seq.fill(runs)(calibrationRun(spark)))
  }

  /** Interpolated median: odd counts take the true middle element;
    * even counts AVERAGE the two middle elements. (r16 ADVICE: an
    * upper-median-of-2 is just the max — one contention spike in
    * either of two calibration points would inflate the window factor
    * bench_diff divides by. Averaging keeps the 2-point case unbiased
    * and leaves odd-count callers unchanged.) */
  def medianOf(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "medianOf on empty seq")
    val sorted = xs.sorted
    if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
  }
}
