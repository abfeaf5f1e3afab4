package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Scale-regression guard over EVERY SparkEntry query plan: an
  * unpartitioned Window funnels the whole input through ONE task (the
  * round-2 p02 hotspot — 27 s of a 69 s bench from a single global
  * `row_number`), and a CartesianProduct is the all-pairs blow-up the
  * dedup operators exist to avoid. Neither may ever appear.
  *
  * knnBrute's intentional corpus×queries product needs no whitelist:
  * its broadcast plans as BroadcastNestedLoopJoin, not
  * CartesianProductExec — the guard thereby ALSO asserts the small
  * side stays broadcast.
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("time-filtered event queries push raw-ts bounds into the parquet scan") {
    // the derived µs column `t = ts div 1000` is opaque to pushdown;
    // every time predicate must carry the paired raw `ts` bound all the
    // way to the footer (EventsArchiveAdapter.tsRangeUs & friends) —
    // at archive scale this is row-group pruning vs a full read
    // q27 carries NO manual ts_raw bound — its presence here is the
    // DerivedDivBounds rule working end to end through the adapter
    val timeFiltered = Seq("q01_scan_project", "q09_point_in_time",
      "q10_history_limit", "q17_grafana_datapoints",
      "q27_naive_time_range")
    timeFiltered.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val pushed = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }
      assert(pushed.exists(s =>
        (s.contains("GreaterThan") || s.contains("LessThan"))
          && s.contains("ts")),
        s"$name: no raw-ts bound reached the scan (pushed=$pushed)")
    }
  }

  test("q41 cache cycle: BOTH union branches (truncated prefix and " +
    "fresh suffix) push raw-ts bounds to their scans") {
    // the refreshOpenDay merge is two scans — `t < bound` on the cached
    // prefix and `t >= bound` on the fresh fetch; if either lost its
    // derived raw bound, the open-day refresh would full-scan the
    // archive once per poll at 100 TB
    val df = SparkEntry.queries("q41_cache_refresh_cycle")(spark, dir)
    val pushed = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.length >= 2, s"expected 2 scans, got $pushed")
    assert(pushed.forall(s =>
      (s.contains("GreaterThan") || s.contains("LessThan"))
        && s.contains("ts")),
      s"q41: a union branch lost its raw-ts bound (pushed=$pushed)")
  }

  test("q36/q43 image capstones plan ONE fused raster operator for all " +
    "axes over the persisted window") {
    // the two-phase pipeline must keep phase 2 on the custom fused
    // exec (filter+pixel-bin+partial-agg in one pass), and bin all
    // three y-axes in that one pass, each with its own scale
    Seq("q36_image_pipeline", "q43_image_hover").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val fused = df.queryExecution.sparkPlan.collect {
        case p: graft.plans.RasterBinPartialExec => p
      }
      assert(fused.length == 1,
        s"$name: expected 1 fused raster partial, got ${fused.length}")
      assert(fused.head.params.scales.length == 3,
        s"$name: expected 3 axis scales, got ${fused.head.params.scales}")
      spark.sharedState.cacheManager.clearCache() // release imageWindow
    }
  }

  test("small-side broadcast hints survive into the optimized join") {
    // the dedup/sampling APPLY pipelines join the corpus against a
    // small derived side that is checkpoint- or agg-backed (no
    // catalog stats) — without the surviving hint the planner would
    // sort-merge the full corpus for a kilobyte side. The assertions
    // pin the SPECIFIC join (an any-hinted-join check would stay green
    // if the apply hint were dropped while an unrelated one survived)
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def hintedJoins(name: String): Seq[Join] =
      SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan.collect {
          case j: Join if (j.hint.leftHint ++ j.hint.rightHint)
            .exists(_.strategy.contains(BROADCAST)) => j
        }
    // p20/p28: the final elimination is a broadcast LEFT ANTI join
    Seq("p20_dedup_apply", "p28_incremental_dedup").foreach { name =>
      assert(hintedJoins(name).exists(
        _.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti),
        s"$name: broadcast-hinted anti-join missing")
    }
    // p32: the rate-apply join is the hinted equi-join on the strata
    // (mixturePlan's internal totals broadcast is a condition-less
    // cross join, so this cannot be satisfied by it)
    assert(hintedJoins("p32_mixture_apply").exists(j =>
      j.condition.exists(_.references.exists(_.name == "lang"))),
      "p32: broadcast-hinted strata join missing")
    // p72: the scoring joins (weights, query tokens) ride broadcasts
    // on `w` — a sort-merge there would re-shuffle the pruned
    // postings. (The vocab-prune join is hinted too but invisible
    // here: `rel` is persisted, so the cache manager substitutes an
    // InMemoryRelation for its subtree at analysis time.)
    assert(hintedJoins("p72_bm25_topk").count(j =>
      j.condition.exists(_.references.exists(_.name == "w"))) >= 2,
      "p72: broadcast-hinted postings joins missing")
    // p73: the corpus→cluster-map join must stay broadcast — the map
    // is pair-graph-sized, the probe side is the whole corpus
    assert(hintedJoins("p73_cluster_splits").exists(
      _.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter),
      "p73: broadcast-hinted cluster-map left join missing")
  }

  test("no query leaves a big-expression Project/Filter outside " +
    "whole-stage codegen (the interpreted-fallback cliff tripwire)") {
    // Round 12's literal-centroid cliff: a huge literal expression
    // fused into a join stage silently broke whole-stage codegen for
    // the combined stage, and the per-row INTERPRETED eval of that
    // expression (re-allocating every literal array per row) cost 50×
    // — with nothing in the logs. The static signature: a hot per-row
    // operator (Project/Filter) carrying a large expression tree that
    // CollapseCodegenStages left OUTSIDE any WholeStageCodegen span.
    // Calibration (ScratchPlan survey, sf0.001): the known-bad literal
    // ivfTopK plan shows 805 expression nodes on an ejected Filter;
    // the worst legitimate query shows 304 (p08's lang-id Project; the
    // 471-node p54 outlier is a Generate, which Spark 4.1 never
    // codegens and which evaluates once per input row, not per output
    // row). Threshold 600 ≈ 2× headroom both ways.
    //
    // AQE defers codegen collapse to runtime per-stage, so probe on an
    // AQE-off session clone where the executedPlan carries the spans.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter,
      ProjectExec, SparkPlan, WholeStageCodegenExec}
    def exprNodes(p: SparkPlan): Int =
      p.expressions.map(e => { var n = 0; e.foreach(_ => n += 1); n }).sum
    val offenders = scala.collection.mutable.Buffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def walk(p: SparkPlan, in: Boolean): Unit = p match {
        case w: WholeStageCodegenExec => w.children.foreach(walk(_, true))
        case a: InputAdapter => a.children.foreach(walk(_, false))
        case other =>
          if (!in) other match {
            case _: ProjectExec | _: FilterExec =>
              val sz = exprNodes(other)
              if (sz > 600) offenders +=
                s"$name: ${other.getClass.getSimpleName} with $sz " +
                  "expression nodes outside codegen"
            case _ => ()
          }
          other.children.foreach(walk(_, in))
      }
      walk(fn(sess, dir).queryExecution.executedPlan, in = false)
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no query plans an unpartitioned Window or a CartesianProduct") {
    val offenders = scala.collection.mutable.Buffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      if (globalWindows.nonEmpty)
        offenders += s"$name: unpartitioned Window"
      val cartesian = df.queryExecution.sparkPlan.collect {
        case c: CartesianProductExec => c
      }
      if (cartesian.nonEmpty) offenders += s"$name: CartesianProduct"
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
