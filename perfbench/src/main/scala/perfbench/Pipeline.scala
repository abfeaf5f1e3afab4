package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.server.Json

/** The pipeline workload: a fixed list of `SparkEntry.queries`, each
  * forced with a `noop` write as `graft.Bench` does, in the order the
  * seed chose. Set-up runs the list once over a small corpus so every
  * plan's generated code is compiled before timing; the timed window
  * then repeats the list until `seconds` have passed (at least once).
  * Results for the oracle compare are written after the window. */
object Pipeline {
  val Family: Map[String, String] = Map(
    "p02" -> "dedup", "p16" -> "dedup", "p20" -> "dedup", "p65" -> "dedup",
    "p13" -> "similarity", "p15" -> "similarity", "p38" -> "similarity",
    "p44" -> "retrieval", "p67" -> "retrieval", "p72" -> "retrieval",
    "p74" -> "retrieval", "p33" -> "text", "p42" -> "text", "p47" -> "text",
    "p70" -> "text", "p17" -> "sampling", "p46" -> "sampling",
    "p24" -> "multimodal", "p60" -> "streaming", "q32" -> "streaming",
    "q34" -> "streaming")

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, opts: Map[String, String], trace: Boolean,
      seconds: Double, heap: HeapWatch): Map[String, Any] = {
    val corpus = opts("corpus")
    val all = graft.SparkEntry.queries
    val order = opts("order").split(',').toSeq
    val full = order.map(s => s -> all.keys.find(_.startsWith(s + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $s"))).toMap
    def once(short: String, dir: String): Double = {
      val t0 = System.nanoTime()
      force(all(full(short))(spark, dir))
      val ms = (System.nanoTime() - t0) / 1e6
      spark.sharedState.cacheManager.clearCache()
      ms
    }

    val s0 = System.nanoTime()
    order.foreach(once(_, opts("warm-corpus")))
    val setupS = (System.nanoTime() - s0) / 1e9
    heap.sample()

    val origin = System.nanoTime()
    val cpu0 = Main.processCpuNs()
    val passes = ArrayBuffer[Seq[(String, Double)]]()
    while (passes.isEmpty || System.nanoTime() - origin < seconds * 1e9)
      passes += order.map(q => q -> once(q, corpus))
    val windowS = (System.nanoTime() - origin) / 1e9
    val cpuS = (Main.processCpuNs() - cpu0) / 1e9
    heap.sample()

    val layers = if (!trace) Map.empty[String, Double] else {
      val tracer = new Tracer(spark)
      val storage = new StoragePeak(spark)
      tracer.attach()
      val spans = order.zipWithIndex.map { case (q, i) =>
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, s"q-$i")
        val w0 = System.currentTimeMillis()
        val ms = try once(q, corpus)
          finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
        Span(s"q-$i", q, w0, System.currentTimeMillis(), ms)
      }
      tracer.detach()
      storage.stop()
      val w = tracer.work(spans)
      val plain = passes.last.map(_._2)
      val byFamily = spans.groupBy(s => Family(s.route))
      val fam = Family.values.toSeq.distinct.map(f =>
        s"pipeline.${f}_s" -> byFamily.getOrElse(f, Nil).map(_.ms / 1000).sum)
      val perQuery = spans.map(s => s"pipeline.${s.route}_s" -> s.ms / 1000)
      val jobs = spans.map(s => w(s.id).jobs)
      (fam ++ perQuery ++ tracer.common(jobs.flatten) ++ Seq(
        "spark.jobs_per_pipeline_query" -> jobs.map(_.size).sum.toDouble / spans.size,
        "spark.shuffle_bytes_pipeline" ->
          tracer.tasksOf(jobs.flatten).map(_.shuffleBytes).sum.toDouble,
        "cache.persisted_bytes_peak" -> storage.peak.toDouble,
        "trace.overhead_share" ->
          (Stats.median(spans.map(_.ms)) / Stats.median(plain) - 1.0))).toMap
    }

    writeOutputs(spark, order, full, corpus, opts("work") + "/pipeline_out")
    Map(
      "mode" -> "pipeline",
      "setup_runs_s" -> Seq(setupS),
      "window_s" -> windowS,
      "cpu_s" -> cpuS,
      "passes" -> passes.map(_.map { case (q, ms) => Seq(q, ms) }),
      "layers" -> layers)
  }

  /** One result parquet per query plus the oracle SQL, in the layout
    * tools/oracle_check.py reads (the one `graft.Verify` writes). */
  def writeOutputs(spark: SparkSession, order: Seq[String],
      full: Map[String, String], corpus: String, out: String): Unit = {
    val errors = ArrayBuffer[(String, String)]()
    order.foreach { q =>
      val name = full(q)
      try graft.SparkEntry.queries(name)(spark, corpus).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => errors += name -> e.toString }
      spark.sharedState.cacheManager.clearCache()
    }
    def put(f: String, v: Any): Unit =
      Files.write(Paths.get(s"$out/$f"), Json.write(v).getBytes(UTF_8))
    Files.createDirectories(Paths.get(out))
    put("selected_queries.json", order.map(full))
    put("verify_errors.json", errors.toMap)
    put("oracle_sql.json", order.map(q => full(q) -> graft.SparkEntry.oracleSql(full(q))).toMap)
  }
}
