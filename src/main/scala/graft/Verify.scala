package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD: per-query errors are collected into
  * `outDir/verify_errors.json` and a summary line goes to stdout, so an
  * all-broken run can never masquerade as success (round-1 post-mortem:
  * 20/20 scan failures went only to stderr and the round looked green).
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Shared dev-only query subset filter (`SPARK_GRAFT_ONLY`,
    * comma-separated names) for both mains. LOUD when active — banner
    * + unmatched-name report — because a filter leaking into a driver
    * environment must be obvious in the log, not a silently-shrunk
    * denominator; the driver never sets it. */
  def subsetFilter(tag: String,
      all: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame])
      : Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = {
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => all
      case Some(f) =>
        val selected = all.filter { case (k, _) => f(k) }
        val unmatched = f -- all.keySet
        println(s"[$tag] SUBSET MODE: SPARK_GRAFT_ONLY selects " +
          s"${selected.size}/${all.size} queries" +
          (if (unmatched.nonEmpty)
            s"; UNMATCHED names ignored: ${unmatched.mkString(", ")}"
          else ""))
        selected
    }
  }

  /** Ids of the RDDs persisted since `before` that are still registered
    * once the asynchronous releases have drained (polled for up to
    * `timeoutMs`). */
  def pinnedSince(spark: SparkSession, before: Set[Int],
      timeoutMs: Long = 30000L): Set[Int] = {
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (pinned.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    pinned
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    var ok = 0
    val selected = subsetFilter("verify", SparkEntry.queries)
    // Record THIS run's selection and clear every prior-generation
    // artifact BEFORE the query loop: a run killed mid-loop on a
    // reused outDir must leave this run's selection plus only this
    // run's results — previously it left the PREVIOUS run's
    // selected_queries.json plus mixed-generation result dirs, which
    // oracle_check's staleness guard (missing-dir check) could not
    // see through and would pass as a complete audit.
    Files.writeString(Paths.get(s"$outDir/selected_queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    Seq("verify_errors.json", "oracle_sql.json").foreach { f =>
      Files.deleteIfExists(Paths.get(s"$outDir/$f"))
    }
    SparkEntry.queries.keys.foreach { name =>
      val stale = Paths.get(s"$outDir/$name")
      if (Files.isDirectory(stale)) {
        import scala.jdk.CollectionConverters._
        // Files.walk holds a directory handle until closed — drain
        // the paths, close, THEN delete (ADVICE r15: the undrained
        // stream leaked one handle per stale dir until GC)
        val walk = Files.walk(stale)
        val paths = try walk.iterator().asScala.toSeq
                    finally walk.close()
        paths.reverse.foreach(Files.delete)
      }
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        errors += name -> msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[verify] $ok/${selected.size} queries written, " +
      s"${errors.size} FAILED" +
      (if (errors.nonEmpty) s": ${errors.keys.mkString(", ")}" else ""))
    println("[verify] persisted RDDs still registered after run: " +
      pinnedSince(spark, persistedBefore).size)
    // exit 0 even with failures: the driver records per-query results —
    // a nonzero rc could void the queries that DID pass. Failures are
    // loud via verify_errors.json + the summary line above.
    spark.stop()
  }
}
