package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: one JSON line with per-query wall times.
  *
  * Failures are recorded, not swallowed (round-1 post-mortem: a
  * catch-all turned a 100%-broken run into a plausible "8.68 s total").
  * Execution is forced with a `noop`-sink write: unlike `count()` it
  * cannot let Catalyst drop orderBys, and unlike `foreach` it keeps
  * adaptive execution on and skips per-row deserialization.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    // bench-standard session (local[32] + confs) — shared with the
    // profiler through Harness so profile and bench numbers compare
    val spark = Harness.session()
    // Warm-up: run EVERY query once at the smallest SF before timing.
    // Each query's generated code (whole-stage codegen classes) is
    // plan-specific, so scanning a few tables warms almost nothing —
    // round-3 measurement: a cold JVM charges 10-14 s of Janino+JIT to
    // a query whose steady-state run is 2 s, and run-to-run totals
    // swung ±40%. The warm pass compiles every class and JITs the hot
    // loops at sf0.001 cost (sub-second per query); the timed pass then
    // measures execution, which is what a long-lived cluster session
    // actually experiences.
    val warmDir = Harness.warmDir
    // dev-only subset filter, shared with Verify — loud when active
    // (a leaked filter in a driver bench would otherwise silently
    // shrink the suite AND overwrite BENCH_SELF.json with partials)
    val selected = Verify.subsetFilter("bench", SparkEntry.queries)
    selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.sharedState.cacheManager.clearCache()
    val names = selected.keys.toSeq.sorted
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Three timed passes, per-query MIN. One pass is at the mercy of
    // whatever else the host runs during those exact seconds: the
    // round-3 driver run charged 10-25× to the alphabetically-first
    // queries from a transient external load that had subsided by the
    // q* half of the suite (the same binary re-run quietly measured
    // 3× lower overall). Min-of-passes-separated-in-time reports
    // steady-state execution — what a long-lived session experiences —
    // instead of one snapshot of host contention; the third pass
    // (round-6 review: ±25% residual drift on untouched queries at
    // passes=2) tightens the band at ~+50 s wall cost. The cache is
    // cleared between queries: every query call builds (and may
    // persist) fresh frames, so cached blocks never carry between
    // measurements, and later passes re-execute from the scan up.
    def pass(): Map[String, Double] = names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          errors.getOrElseUpdate(name,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      if (ok) Some(name -> dt) else None
    }.toMap
    // Window self-calibration (round-15 verdict #2): a fixed synthetic
    // CPU workload (Harness.calibrationRun) measured at suite start,
    // between passes, and at the end. The points land in the artifact
    // so bench_diff.py can normalize cross-window comparisons on a
    // MEASURED window factor instead of inferring one from the suite
    // median (which under-corrects for sub-second queries). Warm once
    // first — the calibration plan needs its codegen compile like any
    // other query.
    Harness.calibrationRun(spark)
    val calPoints = scala.collection.mutable.ArrayBuffer[Double]()
    def calibrate(): Unit = calPoints += Harness.calibrationPoint(spark)
    calibrate()
    val p1 = pass(); calibrate()
    val p2 = pass(); calibrate()
    val p3 = pass(); calibrate()
    val passes = Seq(p1, p2, p3)
    val results = names.map { name =>
      name -> passes.map(_.getOrElse(name, Double.MaxValue)).min
    }
    // The harness keeps only the last ~2000 chars of output, so the
    // metric must survive tail truncation. Round 5's single combined
    // line outgrew the tail at 62 queries (parsed:null); round 9's
    // full-name per-query line outgrew it AGAIN at 109 queries, with
    // the short headline scrolled out above it. Three-tier output,
    // ordered so the LAST complete line is always parseable:
    //  1. the full-detail lines (full query names) go to
    //     BENCH_SELF.json in the CWD — the durable artifact;
    //  2. the same full per-query line to stdout (for humans; may
    //     truncate in the captured tail — that is fine, the file has
    //     it);
    //  3. the FINAL stdout line is one compact self-contained JSON —
    //     total + per-query map keyed by the unique qNN/pNN prefix —
    //     sized to fit the 2000-char tail even after sbt's trailing
    //     "[success]" line (~13 bytes/query: 118 queries ≈ 1.75 kB,
    //     with calibration trimmed to median-only and a stderr budget
    //     guard below).
    // Locale.ROOT: the f interpolator honors the default locale, and a
    // comma-decimal locale would emit invalid JSON (ADVICE r12)
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val okResults = results.filterNot { case (k, _) => errors.contains(k) }
    val qs = okResults.map { case (k, v) => Verify.q(k) + ":" + d3(v) }
      .mkString("{", ",", "}")
    // short key = the "q01"/"p46" prefix before the first '_' — unique
    // across the suite by naming convention; fall back to the full
    // name if a collision ever appears rather than dropping a query
    val shortNames = {
      val pref = names.groupBy(n => n.takeWhile(_ != '_'))
      names.map(n => n ->
        (if (pref(n.takeWhile(_ != '_')).size == 1) n.takeWhile(_ != '_')
         else n)).toMap
    }
    val qsShort = okResults
      .map { case (k, v) => Verify.q(shortNames(k)) + ":" + d3(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    // compact-line errors: short keys + hard-truncated messages, so a
    // many-failure run cannot push the final line past the ~2000-char
    // tail the three-tier scheme exists for (full detail is in the
    // perQueryFull line and BENCH_SELF.json)
    val errJsonShort = errors
      .map { case (k, v) => s"${Verify.q(shortNames.getOrElse(k, k))}: " +
        Verify.q(v.take(40)) }
      .mkString("{", ",", "}")
    // total covers successful queries only; failures are listed explicitly
    val total = okResults.map(_._2).sum
    // calibration fields and the run stamp (cpus, -Xmx, git revision,
    // sf dir) ride the headline line so they reach both
    // BENCH_SELF.json and the captured output tail (~180 chars —
    // the compact final line stays under the 2000-char tail)
    val calMedian = Harness.medianOf(calPoints.toSeq)
    val calJson =
      s""""calibration":{"points":${calPoints.map(d3).mkString("[", ",", "]")},""" +
      s""""median":${d3(calMedian)},"rows":${Harness.CalibrationRows}}"""
    val headline =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
      s""""n_queries":${names.size},"n_failed":${errors.size},""" +
      s""""passes":3,"agg":"min",$calJson,""" +
      s""""stamp":${graft.server.Json.write(Harness.stamp(spark, sfDir))}}"""
    val perQueryFull =
      s"""{"metric":"per_query","unit":"sec","queries":$qs,""" +
      s""""errors":$errJson,"sf":${Verify.q(sfDir)}}"""
    // subset mode must not overwrite the durable full-suite artifact
    // with partial results — partials go to a sibling file instead
    val selfPath = if (sys.env.contains("SPARK_GRAFT_ONLY"))
      "BENCH_SELF.partial.json" else "BENCH_SELF.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(selfPath),
      headline + "\n" + perQueryFull + "\n")
    println(perQueryFull)
    println(headline)
    // the compact line IS the headline plus the short-key maps — one
    // source of truth for the metric fields, not a third hand-synced
    // spelling of them — except calibration, trimmed to median-only
    // (r16 ADVICE: the ~95-char points list rode the one line whose
    // entire purpose is fitting the ~2000-char driver tail; bench_diff
    // normalizes on "median" alone, and the full points list is
    // preserved in BENCH_SELF.json's headline)
    val compact = headline.replace(calJson,
      s""""calibration":{"median":${d3(calMedian)}}""").dropRight(1) +
      s""","queries":$qsShort,"errors":$errJsonShort}"""
    // budget guard: warn on STDERR (never stdout — the compact line
    // must stay last) if query growth or a many-failure run ever
    // pushes the line near the driver's tail capture limit
    if (compact.length > 1950)
      System.err.println(s"[bench] WARNING: compact line is " +
        s"${compact.length} chars, past the ~1950 budget for the " +
        "~2000-char driver tail; trim before the next driver run")
    println(compact)
    spark.stop()
  }
}
