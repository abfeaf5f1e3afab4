package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import graft.server.Json

/** Per-query profile read from the plans Spark executed, not from a
  * re-typed copy of an operator: the real `SparkEntry.queries(name)`
  * runs once warm at [[Harness.warmDir]], then once under a
  * `SparkListener` at [[Harness.sfDir]], forced with a `noop` write as
  * [[Bench]] does. The listener keeps every SQL execution's plan (start
  * and adaptive re-plan events carry each node's metric accumulator
  * ids), the task-end and driver accumulator updates, and stage
  * intervals — so streaming micro-batches and iterative loops are
  * profiled like any other query.
  *
  * `PROFILE_<query>.json` holds the wall time, every plan node's
  * non-zero SQLMetrics, per-stage wall/skew/GC and the plan nodes each
  * stage ran, and a rollup of the wall time into layers that
  * partition it:
  *  - `driver`: no stage running (planning, codegen, driver-side loops
  *    and collects);
  *  - `broadcast`: stages of broadcast-exchange collect jobs;
  *  - `scan` / `exchange` / `compute`: every other stage's wall share
  *    (overlapping stages split a slice evenly), divided by its tasks'
  *    scan time, shuffle write + fetch-wait time, and the rest;
  *  - `unattributed`: stages no plan names (jobs outside any SQL
  *    execution, or stages that reported no task).
  *
  * Usage: `sbt "runMain graft.Profile p74_bm25_negatives,q34_stream_range_join"`.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Profile <query>[,<query>...]")
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(queryFn)
    val spark = Harness.session()
    try names.foreach { name =>
      val json = run(spark, name, Harness.warmDir, Harness.sfDir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"PROFILE_$name.json"), json + "\n")
      println(s"[profile] wrote PROFILE_$name.json")
    } finally spark.stop()
  }

  private def queryFn(name: String) = SparkEntry.queries.getOrElse(name,
    throw new IllegalArgumentException(s"unknown query: $name"))

  /** Warm at `warmDir`, profile one run at `dir`; the profile as JSON. */
  def run(spark: SparkSession, name: String, warmDir: String,
      dir: String): String = {
    val fn = queryFn(name)
    def once(d: String): Unit = {
      fn(spark, d).write.format("noop").mode("overwrite").save()
      spark.sharedState.cacheManager.clearCache()
    }
    once(warmDir)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val t0 = System.currentTimeMillis()
    val t1 = try { once(dir); System.currentTimeMillis() }
      finally { rec.drain(); spark.sparkContext.removeSparkListener(rec) }
    Json.write(rec.report(t0, t1) ++ ListMap("query" -> name, "stamp" -> ListMap(
      "cpus" -> spark.sparkContext.defaultParallelism,
      "xmx" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.findLast(_.startsWith("-Xmx"))
        .getOrElse(s"-Xmx${Runtime.getRuntime.maxMemory >> 20}m"),
      "git" -> scala.util.Try(scala.sys.process.Process(
        Seq("git", "describe", "--always", "--dirty")).!!.trim).getOrElse("unknown"),
      "sf" -> dir)))
  }

  private def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  private final class Stage(val id: Int) {
    var startMs, endMs, gcMs, shuffleMs = 0L
    var job: Option[(Boolean, Boolean)] = None // (in a SQL execution, broadcast)
    val taskMs = mutable.ArrayBuffer[Long]()
    val accums = mutable.Map[Long, Long]().withDefaultValue(0L)
  }

  /** Listener state. Callbacks run on the listener-bus thread and
    * [[report]] reads after [[drain]]; one lock covers both. */
  private final class Recorder extends SparkListener {
    private var events = 0L
    private val stages = mutable.Map[Int, Stage]()
    /** accumulator id -> (plan node name, metric name), from every plan */
    private val metrics = mutable.Map[Long, (String, String)]()
    private val plans = mutable.LinkedHashMap[Long, SparkPlanInfo]()
    private val driverAccums = mutable.Map[Long, Long]().withDefaultValue(0L)

    private def stage(id: Int) = {
      events += 1
      stages.getOrElseUpdate(id, new Stage(id))
    }

    /** Wait for the bus to go quiet: no event for 300 ms. */
    def drain(): Unit = {
      var last = -1L
      while (synchronized(events) != last) {
        last = synchronized(events); Thread.sleep(300)
      }
    }

    private def plan(exec: Long, p: SparkPlanInfo): Unit = synchronized {
      events += 1
      plans(exec) = p
      def walk(n: SparkPlanInfo): Unit = {
        n.metrics.foreach(m => metrics(m.accumulatorId) = (n.nodeName, m.name))
        n.children.foreach(walk)
      }
      walk(p)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val flags = (prop("spark.sql.execution.id").isDefined,
        prop("spark.job.tags").exists(_.contains("broadcast exchange")))
      e.stageIds.foreach(stage(_).job = Some(flags))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = stage(e.stageInfo.stageId)
        s.startMs = e.stageInfo.submissionTime.getOrElse(0L)
        s.endMs = e.stageInfo.completionTime.getOrElse(s.startMs)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.gcMs += m.jvmGCTime
        s.shuffleMs += m.shuffleWriteMetrics.writeTime / 1000000 +
          m.shuffleReadMetrics.fetchWaitTime
      }
      for (a <- e.taskInfo.accumulables; v <- a.update) v match {
        case n: java.lang.Long => s.accums(a.id) += n
        case n: java.lang.Integer => s.accums(a.id) += n.toLong
        case _ => ()
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plan(s.executionId, s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        plan(s.executionId, s.sparkPlanInfo)
      case s: SparkListenerDriverAccumUpdates => synchronized {
        events += 1
        s.accumUpdates.foreach { case (id, v) => driverAccums(id) += v }
      }
      case _ => ()
    }

    def report(t0: Long, t1: Long): ListMap[String, Any] = synchronized {
      val done = stages.values.filter(s => s.endMs > s.startMs &&
        s.endMs > t0 && s.startMs < t1).toSeq.sortBy(_.id)
      // each slice between stage boundaries goes to the stages running
      // in it, split evenly, or to the driver when none runs
      val share = mutable.Map[Int, Double]().withDefaultValue(0.0)
      val layers = mutable.LinkedHashMap(Seq("scan", "exchange", "broadcast",
        "compute", "driver", "unattributed").map(_ -> 0.0): _*)
      val cuts = (done.flatMap(s => Seq(s.startMs, s.endMs)) ++ Seq(t0, t1))
        .filter(t => t >= t0 && t <= t1).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val live = done.filter(s => s.startMs <= a && s.endMs >= b)
        if (live.isEmpty) layers("driver") += b - a
        else live.foreach(s => share(s.id) += (b - a).toDouble / live.size)
      }
      val stageOut = done.map { s =>
        val ms = share(s.id)
        val taskMs = s.taskMs.sum.toDouble
        val scanMs = s.accums.collect { case (id, v) if metrics.get(id).exists {
          case (node, m) => node.startsWith("Scan") && m == "scan time" } => v }.sum
        s.job match {
          case Some((true, true)) if taskMs > 0 => layers("broadcast") += ms
          case Some((true, false)) if taskMs > 0 =>
            val scan = math.min(1.0, scanMs / taskMs)
            val exch = math.min(1.0 - scan, s.shuffleMs / taskMs)
            layers("scan") += ms * scan
            layers("exchange") += ms * exch
            layers("compute") += ms * (1.0 - scan - exch)
          case _ => layers("unattributed") += ms
        }
        val sorted = s.taskMs.toSeq.sorted
        val median = if (sorted.isEmpty) 0.0 else Harness.medianOf(sorted.map(_.toDouble))
        ListMap("id" -> s.id, "wall_ms" -> (s.endMs - s.startMs),
          "share_ms" -> r3(ms), "tasks" -> sorted.size,
          "skew" -> r3(if (median > 0) sorted.last / median else 1.0), "gc_ms" -> s.gcMs,
          "nodes" -> s.accums.keys.flatMap(metrics.get).map(_._1).toSeq.distinct.sorted)
      }
      val totals = mutable.Map[Long, Long]().withDefaultValue(0L)
      (stages.values.map(_.accums) ++ Seq(driverAccums)).foreach(
        _.foreach { case (id, v) => totals(id) += v })
      // a subtree shared across plans (a cached relation, a reused
      // exchange) carries the same accumulators: list it once
      val seen = mutable.Set[Long]()
      val execs = plans.toSeq.flatMap { case (id, p) =>
        val nodes = mutable.ArrayBuffer[ListMap[String, Any]]()
        def walk(n: SparkPlanInfo): Unit = {
          val values = n.metrics.filter(m => m.metricType != "average" &&
              seen.add(m.accumulatorId)).flatMap { m =>
            val v = totals(m.accumulatorId)
            val scaled = if (m.metricType == "nsTiming") v / 1000000 else v
            if (scaled != 0) Some(m.name -> scaled) else None
          }
          if (values.nonEmpty)
            nodes += ListMap("name" -> n.nodeName, "metrics" -> ListMap(values: _*))
          n.children.foreach(walk)
        }
        walk(p)
        if (nodes.isEmpty) None else Some(ListMap("execution" -> id, "nodes" -> nodes))
      }
      val wall = (t1 - t0).toDouble
      ListMap("wall_s" -> r3(wall / 1000),
        "layers_s" -> layers.map { case (k, v) => k -> r3(v / 1000) },
        "unattributed_share" -> r3(if (wall > 0) layers("unattributed") / wall else 0.0),
        "stages" -> stageOut, "executions" -> execs)
    }
  }
}
