package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.server.Json

/** JVM half of the benchmark. `run.py` generates the inputs, starts
  * this main once per run, and checks what it writes:
  *
  *   --mode viewer|export|pipeline  --trace 0|1  --seconds S
  *   --work DIR (scratch space)  --out FILE (result JSON)
  *   viewer/export: --archive DIR --requests FILE --warmup FILE --block N
  *   pipeline:      --corpus DIR --warm-corpus DIR --order q1,q2,…
  *
  * The result file holds raw per-request records and timings; every
  * percentile and every output check is computed by `run.py`. */
object Main {
  /** Exits explicitly either way: the shim's handler pool is non-daemon
    * and has no shutdown hook, so a failed run would otherwise hang. */
  def main(args: Array[String]): Unit = {
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch
    val spark = graft.Harness.session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val trace = opts.getOrElse("trace", "0") == "1"
    val seconds = opts("seconds").toDouble
    val body: Map[String, Any] = opts("mode") match {
      case m @ ("viewer" | "export") =>
        Serve.run(spark, m, opts, trace, seconds, heap)
      case "pipeline" => Pipeline.run(spark, opts, trace, seconds, heap)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    // the window gauge (one Harness.calibrationRun, ~5 s on 4 cores)
    // is taken after traced runs only, to keep untraced runs short
    val calibration = if (trace) Seq(graft.Harness.calibrationRun(spark)) else Nil
    val stamp = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "spark_master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "calibration_s" -> calibration,
      "calibration_rows" -> graft.Harness.CalibrationRows.toDouble)
    val out = body ++ Map(
      "session_s" -> sessionS,
      "heap_retained_mb" -> heap.retainedMb,
      "stamp" -> stamp)
    Files.write(Paths.get(opts("out")), Json.write(out).getBytes(UTF_8))
    spark.stop()
  }

  def readLines(path: String): Seq[Map[String, Any]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.trim.nonEmpty).map(l => Json.obj(Json.parse(l)))

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  /** Process CPU time, ns, all threads (Spark tasks run in-process). */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Heap the process holds: used heap right after a full collection,
  * taken at the end of set-up and at the end of the window (the larger
  * is reported). Forcing the collection keeps when the collector
  * happens to run out of the number; transient per-request garbage is
  * not in it. */
final class HeapWatch {
  @volatile private var retained = 0L

  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > retained) retained = used
  }

  def retainedMb: Double = retained / 1048576.0
}
