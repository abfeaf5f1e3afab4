package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** A timed region: an HTTP call, a direct library call, or one
  * pipeline query (`route` names the route or query). Wall-clock ms
  * bounds map listener events (which carry wall-clock times) onto it;
  * `ms` is its nanoTime length. */
final case class Span(id: String, route: String, startMs: Long, endMs: Long,
    ms: Double)

/** Spark's public listener API, recording jobs, stages, tasks and SQL
  * executions while attached. An execution's plan comes from its start
  * (and adaptive re-plan) events; its scan metrics are the accumulator
  * updates tasks and the driver report for the scan nodes' SQLMetrics.
  * Jobs submitted from a thread carrying the [[Tracer.SpanKey]] local
  * property belong to that span; other jobs and executions belong to
  * the span their start time falls in (the traced replays run at
  * concurrency 1, so spans never overlap). Events arrive on Spark's
  * listener bus; [[detach]] waits for it to go quiet. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentHashMap[Long, Task]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  /** accumulator id -> summed updates, from tasks and the driver */
  private val accums = new ConcurrentHashMap[Long, java.lang.Long]()
  private val events = new AtomicLong(0)

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  def detach(): Unit = {
    var last = -1L
    while (last != events.get()) { last = events.get(); Thread.sleep(300) }
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties)
    jobs.put(e.jobId, Job(e.jobId, e.time,
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
      p.flatMap(x => Option(x.getProperty(SpanKey))), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) tasks.put(e.taskInfo.taskId, Task(e.stageId, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    e.taskInfo.accumulables.foreach { a =>
      a.update.foreach(v => add(a.id, v))
    }
  }

  private def add(id: Long, v: Any): Unit = v match {
    case n: java.lang.Long => accums.merge(id, n, (x, y) => x + y)
    case n: java.lang.Integer => accums.merge(id, n.toLong, (x, y) => x + y)
    case _ => ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      val x = new Exec(s.executionId, s.time)
      x.plan(s.sparkPlanInfo)
      execs.put(s.executionId, x)
    case s: SparkListenerSQLAdaptiveExecutionUpdate =>
      events.incrementAndGet()
      Option(execs.get(s.executionId)).foreach(_.plan(s.sparkPlanInfo))
    case s: SparkListenerDriverAccumUpdates =>
      events.incrementAndGet()
      s.accumUpdates.foreach { case (id, v) => add(id, v) }
    case s: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet(); Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
    case _ => ()
  }

  /** Summed scan metric of an execution: output rows, files read, or
    * scan time, over every scan node its plans ever held. */
  def scan(e: Exec, metric: String): Long =
    e.scanAccums.getOrElse(metric, Set.empty[Long]).toSeq
      .map(id => Option(accums.get(id)).map(_.longValue).getOrElse(0L)).sum

  // ------------------------------------------------------------ attribution

  private def spanOf(spans: Seq[Span], tagged: Option[String], atMs: Long): Option[Span] =
    tagged.flatMap(t => spans.find(_.id == t))
      .orElse(spans.find(s => atMs >= s.startMs && atMs <= s.endMs))


  def work(spans: Seq[Span]): Map[String, Work] = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    val jobSpan = js.flatMap(j => spanOf(spans, j.span, j.startMs).map(j -> _.id))
    val execSpan = execs.values.asScala.toSeq.flatMap { e =>
      val viaJob = jobSpan.collectFirst { case (j, s) if j.execId.contains(e.id) => s }
      viaJob.orElse(spanOf(spans, None, e.startMs).map(_.id)).map(e -> _)
    }
    spans.map { s =>
      s.id -> Work(jobSpan.collect { case (j, id) if id == s.id => j },
        execSpan.collect { case (e, id) if id == s.id => e })
    }.toMap
  }

  def tasksOf(js: Seq[Job]): Seq[Task] = {
    val stages = js.flatMap(_.stages).toSet
    tasks.values.asScala.filter(t => stages(t.stage)).toSeq
  }

  /** Length of the union of [start, end] intervals, ms. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS).toDouble
  }

  /** Layer an /image execution belongs to, from its plan: the fused
    * hover exec, the line raster's typed range sort and mapPartitions,
    * or (the remaining aggregate) extrema. */
  def imageLayer(e: Exec): String = e.nodes match {
    case n if n.exists(_.contains("RasterHover")) => "hover"
    case n if n.exists(x => x.contains("MapPartitions") || x.contains("RasterBin") ||
      x.contains("SerializeFromObject") || x.contains("DeserializeToObject")) => "lines"
    case n if n.exists(_.contains("Aggregate")) => "extrema"
    case _ => "other"
  }

  def serveLayers(spans: Seq[Span], traced: Seq[Rec], plain: Seq[Rec]): Map[String, Double] = {
    val w = work(spans)
    val bySpan = spans.map(s => s.id -> s).toMap
    def routeKind(route: String) = route match {
      case "image" => "image"
      case "query" | "httpquery" => "export"
      case "attributes" | "search" => "catalog"
      case _ => "other"
    }
    val out = mutable.LinkedHashMap[String, Double]()
    val perKind = traced.indices.groupBy(i => routeKind(traced(i).req.route))
    def med(xs: Seq[Double]) = Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    var otherMs, httpMs = 0.0
    for (kind <- Seq("image", "export", "catalog")) {
      val idx = perKind.getOrElse(kind, Seq.empty)
      val ok = idx.filter(i => traced(i).status == 200)
      val api = ok.map(i => bySpan(s"api-$i"))
      val http = ok.map(i => bySpan(s"http-$i"))
      val works = ok.map(i => w(s"api-$i"))
      out(s"api.${kind}_ms") = med(api.map(_.ms))
      out(s"spark.jobs_per_$kind") = mean(works.map(_.jobs.size.toDouble))
      if (kind != "catalog") {
        out(s"server.self_ms_per_$kind") = med(ok.indices.map(k => http(k).ms - api(k).ms))
        out(s"server.wire_bytes_per_$kind") = med(ok.map(i => traced(i).wireBytes.toDouble))
        out(s"spark.task_cpu_ms_per_$kind") =
          mean(works.map(x => tasksOf(x.jobs).map(_.cpuNs).sum / 1e6))
        out(s"spark.shuffle_bytes_per_$kind") =
          mean(works.map(x => tasksOf(x.jobs).map(_.shuffleBytes).sum.toDouble))
        // the library call minus the wall time its Spark jobs cover:
        // collect decode, eq-hist, PNG and base64 for images, the
        // SeriesStream render for exports
        out(s"render.driver_ms_per_$kind") = med(ok.indices.map { k =>
          math.max(0.0, api(k).ms - unionMs(works(k).jobs.map(j => (j.startMs, j.endMs))))
        })
      }
      // time in Spark work no layer claims, against the HTTP wall
      if (kind != "catalog") ok.indices.foreach { k =>
        httpMs += http(k).ms
        if (kind == "image") otherMs += works(k).execs
          .filter(imageLayer(_) == "other")
          .map(e => (e.endMs - e.startMs).toDouble).sum
      }
    }
    val images = perKind.getOrElse("image", Seq.empty).filter(i => traced(i).status == 200)
    val iw = images.map(i => w(s"api-$i"))
    def layerMs(x: Work, layer: String): Double = {
      val ex = x.execs.filter(imageLayer(_) == layer).map(e => (e.startMs, e.endMs))
      // the line raster's range-sort sampling and edge collect are
      // bare RDD jobs with no SQL execution
      val bare = if (layer == "lines") x.jobs.filter(_.execId.isEmpty)
        .map(j => (j.startMs, j.endMs)) else Nil
      if (ex.isEmpty && bare.isEmpty) 0.0 else unionMs(ex ++ bare)
    }
    out("operators.extrema_ms_per_image") = med(iw.map(layerMs(_, "extrema")))
    out("operators.lines_ms_per_image") = med(iw.map(layerMs(_, "lines")))
    out("plans.hover_ms_per_image") = med(iw.map(layerMs(_, "hover")))
    def planSum(x: Work, metric: String) = x.execs.map(scan(_, metric)).sum.toDouble
    def fact(r: Rec, k: String) = r.facts.get(k).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val points = images.map(i => fact(traced(i), "points"))
    out("sources.files_read_per_image") = mean(iw.map(planSum(_, Files)))
    out("sources.rows_scanned_per_image") = mean(iw.map(planSum(_, Rows)))
    out("sources.rows_scanned_per_point") =
      if (points.sum > 0) iw.map(planSum(_, Rows)).sum / points.sum else 0.0
    out("sources.scan_ms_per_image") = mean(iw.map(planSum(_, ScanTime)))
    val exports = perKind.getOrElse("export", Seq.empty).filter(i => traced(i).status == 200)
    val exportRows = exports.map(i => fact(traced(i), "rows")).sum
    out("sources.rows_scanned_per_export_row") =
      if (exportRows > 0) exports.map(i => planSum(w(s"api-$i"), Rows)).sum / exportRows
      else 0.0
    val catalogs = perKind.getOrElse("catalog", Seq.empty).filter(i => traced(i).status == 200)
    out("operators.catalog_ms") = med(catalogs.map(i =>
      w(s"api-$i").execs.map(e => (e.endMs - e.startMs).toDouble).sum))
    // a catalog answer that had to scan the archive instead of the
    // shim's persisted catalog frame
    out("cache.catalog_loads") = catalogs.map(i =>
      w(s"api-$i").execs.count(scan(_, Files) > 0).toDouble).sum
    val all = traced.indices.map(i => w(s"api-$i"))
    out ++= common(all.flatMap(_.jobs))
    out("server.not_modified_share") = perKind.get("image").fold(0.0)(all =>
      all.count(i => traced(i).status == 304).toDouble / all.size)
    out("server.status_4xx") = traced.count(r => r.status >= 400 && r.status < 500).toDouble
    out("server.status_5xx") = traced.count(_.status >= 500).toDouble
    out("trace.attributed_share") = if (httpMs > 0) 1.0 - otherMs / httpMs else 0.0
    val pl = plain.filter(_.status == 200).map(r => Main.ms(r.startNs, r.endNs))
    val tr = traced.filter(_.status == 200).map(r => Main.ms(r.startNs, r.endNs))
    out("trace.overhead_share") = if (pl.isEmpty) 0.0 else med(tr) / med(pl) - 1.0
    out.toMap
  }

  /** Metrics every traced run reports, over the given jobs. */
  def common(js: Seq[Job]): Map[String, Double] = {
    val ts = tasksOf(js)
    val skews = ts.groupBy(_.stage).values.filter(_.size > 1).map { st =>
      val m = Stats.median(st.map(_.ms.toDouble))
      if (m > 0) st.map(_.ms).max / m else 1.0
    }.toSeq
    Map(
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Rows = "number of output rows"
  val Files = "number of files read"
  val ScanTime = "scan time"

  final case class Job(id: Int, startMs: Long, execId: Option[Long],
      span: Option[String], stages: Seq[Int]) { var endMs: Long = startMs }
  final case class Task(stage: Int, ms: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long)

  /** One SQL execution: its node names, and the accumulator ids of its
    * scan nodes' metrics, by metric name. */
  final class Exec(val id: Long, val startMs: Long) {
    var endMs: Long = startMs
    var nodes: Set[String] = Set.empty
    var scanAccums: Map[String, Set[Long]] = Map.empty
    def plan(p: SparkPlanInfo): Unit = synchronized {
      def walk(n: SparkPlanInfo): Unit = {
        nodes += n.nodeName
        if (n.nodeName.startsWith("Scan ")) n.metrics
          .filter(m => Set(Rows, Files, ScanTime)(m.name))
          .foreach(m => scanAccums += m.name ->
            (scanAccums.getOrElse(m.name, Set.empty) + m.accumulatorId))
        n.children.foreach(walk)
      }
      walk(p)
    }
  }

  /** The jobs and SQL executions that ran inside one span. */
  final case class Work(jobs: Seq[Job], execs: Seq[Exec])
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else graft.Harness.medianOf(xs)
}

/** Peak bytes held by persisted RDDs (memory + disk), polled. */
final class StoragePeak(spark: SparkSession) {
  @volatile var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      if (b > peak) peak = b
      Thread.sleep(50)
    }
  })
  thread.setDaemon(true)
  thread.start()
  def stop(): Unit = { running = false; thread.join() }
}
