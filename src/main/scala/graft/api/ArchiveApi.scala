package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.{Catalog, Extrema, Raster, Resample}
import graft.render.Render

/** Query façade mirroring the reference server's routes (SURVEY §3):
  * `attributes` / `controlSystems` (catalog), `rawQuery` (the Grafana
  * `/query` endpoint: filter → resample → CSV or JSON), and
  * `imageQuery` (the `/image` hot path: extrema → axis limits → pad →
  * raster → shade → stack → PNG+base64).
  *
  * Execution shape at scale: `imageQuery` is exactly two aggregation
  * passes over the points per REQUEST, whatever its number of y-axes
  * (extrema, then grids — the same two-phase structure as
  * `server.py:114-138`, because y ranges feed the pixel transform),
  * each collecting only O(#attributes) rows or O(pixels) cells;
  * `rawQuery` collects the user-requested (resampled) rows like
  * the reference's pandas renderers. No driver loop ever touches raw
  * points.
  */
object ArchiveApi {

  /** One requested attribute (reference request JSON:
    * `{name, color, y_axis}`, `server.py:108-112`). */
  final case class AttrSpec(name: String, color: Int = 0xff0000,
      yAxis: Int = 0)

  /** Per-axis config (`{scale, min, max}`, `server.py:101-107`). */
  final case class AxisSpec(scale: Option[String] = None,
      min: Option[Double] = None, max: Option[Double] = None) {
    def isLog: Boolean = scale.contains("log")
  }

  final case class AxisImage(imageBase64: String,
      yRange: (Double, Double), xRangeMs: (Double, Double))

  /** Hover info per attribute (`plot.py:44-60`): non-empty pixel
    * columns, per-column extrema/count, column-center timestamps. */
  final case class HoverDesc(totalPoints: Long, indices: Seq[Int],
      colMin: Seq[Double], colMax: Seq[Double], timestamps: Seq[Double],
      counts: Seq[Long])

  final case class ImageResult(images: Map[String, AxisImage],
      descs: Map[String, HoverDesc])

  /** Route `GET /attributes?cs=…&search=…&max=…` — glob search with the
    * result cap APPLIED (the reference parses `max` but never uses it,
    * `server.py:77`; O6 fixes that as a documented divergence). */
  def attributes(attNames: DataFrame, cs: String, glob: String,
      max: Int = 100): DataFrame =
    Catalog.search(attNames.where(col("cs_name") === cs), glob).limit(max)

  /** O2 — route `GET /controlsystems`. */
  def controlSystems(attConf: DataFrame): DataFrame =
    Catalog.controlSystems(attConf)

  /** S6/O3 — latest parameter row at-or-before a point in time
    * (reference `hdbpp.py:261-270`). */
  def parameterAt(attParameter: DataFrame, attConfId: Int,
      atUs: Long): DataFrame =
    Catalog.latestBefore(
      attParameter.where(col("att_conf_id") === attConfId),
      Seq("att_conf_id"), "recv_time", atUs, "recv_time")

  /** S6 variant — latest parameter row with NO cutoff (reference's
    * `latest_parameter` prepared statement, `hdbpp.py:173-177`). */
  def latestParameter(attParameter: DataFrame, attConfId: Int): DataFrame =
    parameterAt(attParameter, attConfId, Long.MaxValue)

  /** S7/O4 — first 10 archiving-history events in a window (reference
    * `hdbpp.py:243-259`). */
  def history(attHistory: DataFrame, attConfId: Int, t0Us: Long,
      t1Us: Long): DataFrame =
    Catalog.firstEvents(
      attHistory.where(col("att_conf_id") === attConfId),
      Seq("att_conf_id"), "time", t0Us, t1Us, 10, "time")

  /** S7 variant — the FULL history, time-ascending, no window and no
    * cap (reference's `all_history` statement, `hdbpp.py:186-191`).
    * A plain pushable filter + sort: the per-attribute row count is
    * archiver-event bounded (starts/stops/config changes), not
    * point-data bounded, so no top-k machinery is warranted. */
  def historyAll(attHistory: DataFrame, attConfId: Int): DataFrame =
    attHistory.where(col("att_conf_id") === attConfId)
      .orderBy(col("time").asc)

  /** Default row cap for [[rawQuery]]'s driver-side render. The
    * reference's raw path has no bound at all (`data.py:63-66` carries
    * its own OOM note); like O6's `/attributes` fix, the dead flaw is
    * fixed rather than ported — an un-intervaled query over a wide
    * range renders at most this many rows. */
  val DefaultRawRowCap: Int = 1000000

  /** The raw render's driver-side unit, used twice by [[rawQuery]]:
    * its first collect asks for one more row than this, so an answer
    * of at most this many rows comes back whole in one collect; a
    * larger answer is regrouped into range partitions of about this
    * many rows, which `toLocalIterator` buffers one at a time. 64k
    * rows of (name, t, value) is a few MB; an answer larger than one
    * batch spreads over ~16 partitions at the 1M default cap, so peak
    * driver state is ~1/16 of the cap instead of the whole cap. */
  val RawRenderBatchRows: Int = 65536

  /** The distributed plan behind [[rawQuery]], exposed so RenderSpec
    * can measure the O(one-sort-partition) driver-buffer claim on the
    * REAL frame instead of a reconstruction: cap on the time-first
    * sort, then the request-attribute-major re-sort whose RANGE
    * partitions are what `toLocalIterator` pulls one at a time.
    * `ceil(maxRows / batchRows)` is the partition count: [[rawQuery]]
    * first passes its one-batch page as both `maxRows` and `batchRows`
    * (one partition, one local sort, collected whole); only an answer
    * larger than that page takes the range regroup at the default
    * `batchRows`.
    *
    * The explicit `repartitionByRange` before the regroup sort is
    * load-bearing: `limit(maxRows)` plans TakeOrderedAndProject, whose
    * output is ONE partition — and a single partition trivially
    * satisfies the outer sort's distribution requirement, so without
    * the repartition the regroup runs as a LOCAL sort and
    * `toLocalIterator` would buffer the entire cap at once (measured:
    * the RenderSpec peak-buffer case fails exactly that way). Range
    * partitioning on the same sort key keeps partition order = global
    * order, so streaming partition-by-partition still renders in
    * order; boundaries come from sampling, which moves rows between
    * partitions but never changes content or order. */
  private[graft] def rawQueryFrame(points: DataFrame,
      attrNames: Seq[String], t0Us: Long, t1Us: Long,
      interval: Option[String], maxRows: Int,
      batchRows: Int = RawRenderBatchRows): DataFrame = {
    require(maxRows > 0, s"maxRows must be positive: $maxRows")
    val filtered = points.where(col("att_name").isin(attrNames: _*))
    val resampled = Resample
      .rawQuery(filtered, t0Us, t1Us, interval, Seq("att_name"))
    val ordered = interval match {
      case Some(_) => resampled.select(col("att_name"), col("t"),
        col("value_r")).orderBy(col("t"), col("att_name"))
      case None => resampled.select(col("att_name"),
        col("t").cast("double").as("t"),
        // the render loop reads getDouble: a float/decimal value_r
        // source would otherwise CCE after the whole query ran (the
        // intervaled branch gets double for free from avg); on an
        // already-double source the cast folds away
        col("value_r").cast("double").as("value_r"))
        .orderBy(col("t"), col("att_name"), col("value_r"))
    }
    // request order, not lexicographic: series must render in the
    // order the client asked for them. ONE array_position against the
    // literal name list — a when-chain would nest O(#attrs) deep and a
    // many-target request would pay analyzer depth for it (membership
    // is guaranteed by the isin filter above, so 0-for-absent cannot
    // occur)
    val reqIdx = array_position(typedLit(attrNames), col("att_name"))
    val capped = ordered.limit(maxRows).withColumn("_ord", reqIdx)
    val sortCols = Seq(col("_ord"), col("t"), col("value_r"))
    val parts = math.max(1,
      math.ceil(maxRows.toDouble / math.max(1, batchRows)).toInt)
    if (parts == 1) capped.orderBy(sortCols: _*)
    else capped.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
  }

  /** §3.2 `POST /query` — inclusive time filter, optional resample,
    * rendered as the reference's CSV block or Grafana JSON format.
    * `points` needs att_name, t (µs), value_r.
    *
    * Driver-memory bound, in two stages. (1) The CAP is applied on a
    * TIME-FIRST sort (t, att_name, value_r — the trailing columns make
    * the cap boundary deterministic under duplicate timestamps) via a
    * real `limit(maxRows)` — Spark plans `TakeOrderedAndProject`, so
    * the top-k runs DISTRIBUTED (per-partition bounded heaps) and
    * hitting the cap behaves exactly like querying a shorter range:
    * the render covers [t0, t_cap] uniformly across EVERY requested
    * attribute (an attribute-first cap would silently drop whole
    * later-sorted attributes — indistinguishable from "no data").
    * (2) The surviving rows are re-sorted into request-attribute-major
    * order and rendered through [[Render.SeriesStream]], sized by the
    * ANSWER, not the cap. The first collect caps at one more row than
    * [[RawRenderBatchRows]] (or at `maxRows`, if smaller) and sorts
    * in one partition: one job for a raw export, two for an intervaled
    * one. When it comes back short of that page, or the page is the
    * cap, it IS the whole answer and renders as is. Otherwise the page
    * is dropped and the ≤cap rows are RE-SORTED DISTRIBUTED into range
    * partitions of about one batch; `toLocalIterator` pulls one at a
    * time, so peak driver state beyond the response payload itself is
    * one batch of rows on either path. Only an answer larger than a
    * batch pays the top-k twice. The cap bounds the intervaled
    * (resampled) path too: a micro-interval over a wide range explodes
    * the same way raw points do. */
  def rawQuery(points: DataFrame, attrNames: Seq[String],
      t0Us: Long, t1Us: Long, interval: Option[String],
      asCsv: Boolean, maxRows: Int = DefaultRawRowCap): String = {
    val page = math.min(maxRows, RawRenderBatchRows + 1)
    val whole = Option(rawQueryFrame(points, attrNames, t0Us, t1Us,
        interval, page, batchRows = page).collect())
      .filter(rows => rows.length < page || page == maxRows)
    val it: Iterator[Row] = whole match {
      case Some(rows) => rows.iterator
      case None => rawQueryFrame(points, attrNames, t0Us, t1Us, interval,
        maxRows).toLocalIterator().asScala
    }
    val w: Render.SeriesStream =
      if (asCsv) new Render.CsvStream(new java.lang.StringBuilder)
      else new Render.GrafanaStream(new java.lang.StringBuilder)
    var current: String = null
    while (it.hasNext) {
      val r = it.next()
      val name = r.getString(0)
      if (name != current) { w.startSeries(name); current = name }
      val v = r.getDouble(2)
      w.row(r.getDouble(1), if (v.isNaN) None else Some(v))
    }
    w.finish()
  }

  /** §3.1 `POST /image` — the interactive plot query. `points` needs
    * att_name, t (µs), value_r, and `tieCol` for deterministic segment
    * pairing. Returns base64 PNGs per y-axis plus hover descs.
    *
    * Every phase runs once per REQUEST over all its y-axes, as the
    * reference's one fetch and one extrema pass do (`server.py:127-138`):
    * one persisted window, one extrema job grouped by (axis,
    * attribute), axis limits on the driver, then one line-raster pass
    * and one fused hover pass in which each attribute bins with its own
    * axis's y-scale. Rows carry their axis slot from a literal map
    * (attribute → the axes listing it, exploded), so an attribute on
    * two axes renders on both, with no join. Each axis's PNG, y-range
    * and hover descs equal those of a request for that axis alone; an
    * attribute listed on several axes keeps the desc of the last of
    * them in `attrs.groupBy(_.yAxis)` order. */
  def imageQuery(points: DataFrame, attrs: Seq[AttrSpec],
      t0Us: Long, t1Us: Long, width: Int, height: Int,
      axes: Map[Int, AxisSpec] = Map.empty,
      tieCol: String = "point_id",
      antialias: Boolean = false): ImageResult = {
    if (attrs.isEmpty) return ImageResult(Map.empty, Map.empty)
    val byAxis = attrs.groupBy(_.yAxis).toSeq
    val specs = byAxis.map { case (axis, _) =>
      axes.getOrElse(axis, AxisSpec()) }
    val names = attrs.map(_.name).distinct
    // one row per (point, index the point's attribute maps to): a map
    // literal attribute → indices, exploded — no join, no extra job
    def explodeBy(indices: String => Seq[Int]): Column = explode(element_at(
      typedLit(names.map(n => n -> indices(n)).toMap), col("att_name")))
    val images = Map.newBuilder[String, AxisImage]
    val descs = Map.newBuilder[String, HoverDesc]
    // persisted: the window is read three times (extrema, line raster,
    // hover) and every read is collected inside this call, so the
    // release is synchronous — one scan per request, whatever its axes
    val window = points.where(col("att_name").isin(names: _*)
      && col("t").between(t0Us, t1Us)).persist()
    try {
      // phase 1 — extrema per (slot, attribute) (A2/A7, plot.py:74-109);
      // only log-axis rows must be positive
      val logSlots = typedLit(specs.indices.filter(specs(_).isLog).toArray)
      val ex = Extrema.perAttribute(
          window.withColumn("slot", explodeBy(n =>
            byAxis.indices.filter(byAxis(_)._2.exists(_.name == n)))),
          Seq("slot", "att_name"), array_contains(logSlots, col("slot")))
        .collect().map { r =>
          (r.getInt(0), r.getString(1)) -> (
            Option(r.get(2)).map(_.toString.toDouble),
            Option(r.get(3)).map(_.toString.toDouble), r.getLong(4))
        }.toMap
      // A3 axis limits + manual override + 5%-pad / constant-range
      // (plot.py:112-188), per slot on the driver
      val present = byAxis.indices.map { i =>
        byAxis(i)._2.map(_.name).filter(n =>
          ex.get((i, n)).exists(e => e._1.nonEmpty && e._2.nonEmpty))
      }
      val ranges = byAxis.indices.map { i =>
        val vmins = present(i).flatMap(n => specs(i).min.orElse(ex((i, n))._1))
        val vmaxs = present(i).flatMap(n => specs(i).max.orElse(ex((i, n))._2))
        if (vmins.isEmpty || vmaxs.isEmpty) None
        else Some(Extrema.padRange(vmins.min, vmaxs.max, specs(i).isLog))
      }
      val drawn = byAxis.indices.filter(ranges(_).isDefined)
      if (drawn.nonEmpty) {
        // phase 2 — one line raster and one fused hover pass over every
        // drawn (slot, present attribute) pair, keyed by the slot's
        // index in `drawn`, which is also its y-scale's index
        val scales = drawn.map { i =>
          val (lo, hi) = ranges(i).get
          graft.plans.YScale(lo, hi, specs(i).isLog)
        }
        val keyed = window.withColumn("scale", explodeBy(n =>
          drawn.indices.filter(s => present(drawn(s)).contains(n))))
        val keys = Seq("scale", "att_name")
        // AA opt-in swaps the per-cell statistic (coverage w256 vs hit
        // count) — eq-hist shading is rank-based, so both feed it
        // unchanged
        val lineCells = (
          if (antialias) Raster.binLinesAA(keyed, keys, tieCol, t0Us, t1Us,
            scales, col("scale"), width, height)
          else Raster.binLines(keyed, keys, tieCol, t0Us, t1Us,
            scales, col("scale"), width, height)).collect()
        // hover reductions run FUSED end-to-end (one exchange, merged
        // per pixel column in the exec): the driver receives O(width)
        // rows per attribute, not the O(width×height) grid
        val hoverGrid = graft.plans.RasterFusion.hoverColumns(keyed, keys,
          t0Us, t1Us, scales, col("scale"), width, height).collect()
        // ONE pass over each collected grid — a per-attribute linear
        // filter would rescan the full array per attribute (O(attrs ×
        // cells) of driver CPU on the interactive path)
        val cellsByKey = lineCells.groupBy(r =>
          (r.getString(0).toInt, r.getString(1)))
        val hoverByKey = hoverGrid.groupBy(r => (r.getInt(0), r.getString(1)))

        drawn.zipWithIndex.foreach { case (i, s) =>
          val (axis, axisAttrs) = byAxis(i)
          val (yLo, yHi) = ranges(i).get
          val layers = axisAttrs.filter(a => present(i).contains(a.name))
            .map { a =>
              val cells = cellsByKey.getOrElse((s, a.name), Array.empty[Row])
                .map(r => (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4)))
              // eq-hist is datashader's default and therefore the
              // reference's (plot.py:36); Render.shade is the linear option
              Render.shadeEqHist(Render.Grid(a.name, a.color, width, height,
                cells.toSeq))
            }
          val img = Render.stack(layers, width, height)
          images += axis.toString -> AxisImage(Render.pngBase64(img),
            (yLo, yHi), (t0Us / 1000.0, t1Us / 1000.0))

          // hover reductions (A6, plot.py:44-60) — already column-level
          // rows (scale, att_name, px, col_min, col_max, col_count)
          present(i).foreach { name =>
            val cols = hoverByKey.getOrElse((s, name), Array.empty[Row])
              .sortBy(_.getLong(2))
            val indices = cols.map(_.getLong(2).toInt).toSeq
            descs += name -> HoverDesc(
              ex.get((i, name)).map(_._3).getOrElse(0L),
              indices,
              cols.map(_.getDouble(3)).toSeq, // col_min
              cols.map(_.getDouble(4)).toSeq, // col_max
              indices.map(c =>
                t0Us + (c + 0.5) * (t1Us - t0Us) / width), // column centers, µs
              cols.map(_.getLong(5)).toSeq) // col_count
          }
        }
      }
    } finally window.unpersist(blocking = false)
    ImageResult(images.result(), descs.result())
  }
}
