package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.{Catalog, Extrema, Raster, Resample}
import graft.plans.{RasterParams, YScale}
import graft.render.Render

/** Query façade mirroring the reference server's routes (SURVEY §3):
  * `attributes` / `controlSystems` (catalog), `rawQuery` (the Grafana
  * `/query` endpoint: filter → resample → CSV or JSON), and
  * `imageQuery` (the `/image` hot path: extrema → axis limits → pad →
  * raster → shade → stack → PNG+base64).
  *
  * Execution shape, sized by the window or answer rather than fixed:
  * both routes first collect one page of at most [[ArchiveApi
  * .DriverPageRows]] + 1 rows. `imageQuery` renders a window that fits
  * the page on the driver, from those rows, with the executors' own
  * extrema, raster and hover code; a larger window is persisted and
  * takes two aggregation passes per REQUEST, whatever its number of
  * y-axes (extrema, then grids — the same two-phase structure as
  * `server.py:114-138`, because y ranges feed the pixel transform),
  * each collecting only O(#attributes) rows or O(pixels) cells.
  * `rawQuery` collects the user-requested (resampled) rows like the
  * reference's pandas renderers, one page at a time. The driver never
  * holds more than one page of raw points.
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

  /** The driver's page, in rows: the most rows either route collects
    * to the driver at once. [[rawQuery]] asks its first collect for
    * one more answer row than this and [[imageQuery]] one more window
    * row, so an answer or window of at most this many rows comes back
    * whole in one collect and renders on the driver. A larger answer
    * is regrouped into range partitions of about this many rows, which
    * `toLocalIterator` buffers one at a time; a larger window is
    * rendered by the executors. Rows of (name, t, value[, tie]) are
    * about the same width on both routes, so 64k of them is a few MB
    * either way: one bound serves both. An answer larger than one page
    * spreads over ~16 partitions at the 1M default cap, so peak driver
    * state is ~1/16 of the cap instead of the whole cap. */
  val DriverPageRows: Int = 65536

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
      batchRows: Int = DriverPageRows): DataFrame = {
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
    // one partition: a LOCAL sort after coalesce(1). A global orderBy
    // is free over the top-k's one partition, but over a relation Spark
    // can bound at or below the limit (a Range, a local relation) the
    // limit is dropped and orderBy becomes a range-partitioned sort of
    // 3 jobs, where this stays one
    if (parts == 1) capped.coalesce(1).sortWithinPartitions(sortCols: _*)
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
    * [[DriverPageRows]] (or at `maxRows`, if smaller) and sorts
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
    val page = math.min(maxRows, DriverPageRows + 1)
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
    * Sized by the window, as [[rawQuery]] is by its answer: the first
    * read collects one page of at most [[DriverPageRows]] + 1 window
    * rows (`att_name, t, value_r, tieCol`). A page of at most
    * [[DriverPageRows]] rows IS the window, and every phase runs on the
    * driver over it ([[OnDriver]]: the executors' extrema semantics,
    * pixel projection, segment kernel and hover fold, no further job).
    * Only a fuller page is dropped: the window is then persisted and
    * the phases run distributed ([[Distributed]]), so the driver never
    * holds more than one page of rows.
    *
    * The page is `coalesce(1).limit(n)`: ONE task reads the window's
    * scan partitions one after another and stops at `n` rows, so the
    * page is one job whatever the window spans. A root `limit` alone
    * plans `CollectLimitExec`, whose `executeTake` scans one partition,
    * then four times as many, and so on — 2–3 jobs for a multi-day
    * window. The page reads the raw window, not a persisted one: a
    * window that fits the page is read once and never cached, and one
    * over it pays its scan up to the page's last row, then the
    * persisted read (DESIGN_CENSUS.md "Image render: one collect or
    * the distributed raster").
    *
    * Every phase runs once per REQUEST over all its y-axes, as the
    * reference's one fetch and one extrema pass do (`server.py:127-138`):
    * one extrema pass grouped by (axis, attribute), axis limits on the
    * driver, then one line raster and one hover fold in which each
    * attribute bins with its own axis's y-scale. Rows carry their axis
    * slots (attribute → the axes listing it), so an attribute on two
    * axes renders on both, with no join. Each axis's PNG, y-range and
    * hover descs equal those of a request for that axis alone; an
    * attribute listed on several axes keeps the desc of the last of
    * them in `attrs.groupBy(_.yAxis)` order. */
  def imageQuery(points: DataFrame, attrs: Seq[AttrSpec],
      t0Us: Long, t1Us: Long, width: Int, height: Int,
      axes: Map[Int, AxisSpec] = Map.empty,
      tieCol: String = "point_id",
      antialias: Boolean = false): ImageResult = {
    if (attrs.isEmpty) return ImageResult(Map.empty, Map.empty)
    val window = windowOf(points, attrs.map(_.name).distinct, t0Us, t1Us)
    val page = windowRows(window, tieCol, DriverPageRows + 1)
    if (page.length <= DriverPageRows)
      imageOf(OnDriver(page), attrs, t0Us, t1Us, width, height, axes,
        antialias)
    else {
      // persisted: the distributed phases read the window three times
      // (extrema, line raster, hover) and every read is collected
      // inside this call, so the release is synchronous
      val persisted = window.persist()
      try imageOf(Distributed(persisted, tieCol), attrs, t0Us, t1Us,
        width, height, axes, antialias)
      finally persisted.unpersist(blocking = false)
    }
  }

  /** The rows of `points` an image of attributes `names` over
    * [t0Us, t1Us] reads. */
  private[graft] def windowOf(points: DataFrame, names: Seq[String],
      t0Us: Long, t1Us: Long): DataFrame =
    points.where(col("att_name").isin(names: _*)
      && col("t").between(t0Us, t1Us))

  /** At most `n` rows `(att_name, t, value_r, tie)` of `window` in ONE
    * job — [[imageQuery]]'s page; t and tie as longs, as the raster
    * reads them, and value_r in its own type, as the extrema read it. */
  private[graft] def windowRows(window: DataFrame, tieCol: String,
      n: Int): Array[Row] =
    window.select(col("att_name"), col("t").cast("long").as("t"),
      col("value_r"), col(tieCol).cast("long").as("tie"))
      .coalesce(1).limit(n).collect()

  /** Phase 2's output per (scale, attribute): the line raster's cells
    * `(px, py, statistic)`, in no order, and the hover columns
    * `(px, min, max, count)`, in px order. */
  private[graft] final case class Grids(
      cells: Map[(Int, String), Seq[(Int, Int, Long)]],
      columns: Map[(Int, String), Seq[(Int, Double, Double, Long)]])

  /** Where [[imageOf]]'s two phases read the window from. `slots` maps
    * each attribute to the indices (axis slots in phase 1, y-scales in
    * phase 2) its rows are binned under; a row with none is dropped. */
  private[graft] sealed trait ImageWindow {
    /** Phase 1: (vmin, vmax, points) per (slot, attribute), the
      * log-axis positive filter applied on the `logSlots`. */
    def extrema(slots: Map[String, Seq[Int]], logSlots: Seq[Int])
        : Map[(Int, String), (Option[Double], Option[Double], Long)]
    /** Phase 2: line cells (AA coverage when `aa`) and hover columns. */
    def grids(slots: Map[String, Seq[Int]], p: RasterParams,
        aa: Boolean): Grids
  }

  /** The window as rows on the driver, from [[windowRows]]. */
  private[graft] final case class OnDriver(rows: Array[Row])
      extends ImageWindow {
    private def each[T](slots: Map[String, Seq[Int]])(
        f: (Row, Int, String) => T): Iterator[T] =
      rows.iterator.flatMap { r =>
        val name = r.getString(0)
        slots.getOrElse(name, Nil).iterator.map(s => f(r, s, name))
      }

    def extrema(slots: Map[String, Seq[Int]], logSlots: Seq[Int])
        : Map[(Int, String), (Option[Double], Option[Double], Long)] =
      Extrema.perAttributeLocal(each(slots) { (r, s, name) =>
        ((s, name), r.get(2), logSlots.contains(s)) })

    def grids(slots: Map[String, Seq[Int]], p: RasterParams,
        aa: Boolean): Grids = {
      // value_r as a double, as `cast("double")` reads it on executors
      def v(r: Row): java.lang.Double =
        if (r.isNullAt(2)) null
        else r.get(2).asInstanceOf[Number].doubleValue
      val cells = Raster.linesLocal(each(slots) { (r, s, name) =>
        Raster.LinePoint(Raster.seriesKey(Seq(s.toString, name)),
          r.getLong(1), v(r), r.getLong(3), s) }, p, aa)
        .toSeq.groupMap { case ((k, _, _), _) => (k(0).toInt, k(1)) } {
          case ((_, x, y), w) => (x.toInt, y.toInt, w) }
      val columns = graft.plans.RasterFusion.hoverLocal(
          each(slots)((r, s, name) =>
            ((s, name), r.getLong(1), v(r), Integer.valueOf(s))), p)
        .toSeq.groupMap(_._1._1) { case ((_, x), a) =>
          (x.toInt, a.mn, a.mx, a.cnt) }
        .map { case (key, cols) => key -> cols.sortBy(_._1) }
      Grids(cells, columns)
    }
  }

  /** The window as a frame the executors read (persisted by the
    * caller): one extrema job, the line raster's range-partitioned
    * pass, and the fused hover exchange. */
  private[graft] final case class Distributed(window: DataFrame,
      tieCol: String) extends ImageWindow {
    // one row per (point, index the point's attribute maps to): a map
    // literal attribute → indices, exploded — no join, no extra job
    private def explodeBy(slots: Map[String, Seq[Int]]): Column =
      explode(element_at(typedLit(slots), col("att_name")))

    def extrema(slots: Map[String, Seq[Int]], logSlots: Seq[Int])
        : Map[(Int, String), (Option[Double], Option[Double], Long)] =
      Extrema.perAttribute(window.withColumn("slot", explodeBy(slots)),
          Seq("slot", "att_name"),
          array_contains(typedLit(logSlots.toArray), col("slot")))
        .collect().map { r =>
          (r.getInt(0), r.getString(1)) -> (
            Option(r.get(2)).map(_.toString.toDouble),
            Option(r.get(3)).map(_.toString.toDouble), r.getLong(4))
        }.toMap

    def grids(slots: Map[String, Seq[Int]], p: RasterParams,
        aa: Boolean): Grids = {
      val keyed = window.withColumn("scale", explodeBy(slots))
      val keys = Seq("scale", "att_name")
      // AA opt-in swaps the per-cell statistic (coverage w256 vs hit
      // count) — eq-hist shading is rank-based, so both feed it
      // unchanged
      val lineCells = (
        if (aa) Raster.binLinesAA(keyed, keys, tieCol, p.t0, p.t1,
          p.scales, col("scale"), p.width, p.height)
        else Raster.binLines(keyed, keys, tieCol, p.t0, p.t1,
          p.scales, col("scale"), p.width, p.height)).collect()
      // hover reductions run FUSED end-to-end (one exchange, merged
      // per pixel column in the exec): the driver receives O(width)
      // rows per attribute, not the O(width×height) grid
      val hoverGrid = graft.plans.RasterFusion.hoverColumns(keyed, keys,
        p.t0, p.t1, p.scales, col("scale"), p.width, p.height).collect()
      // ONE pass over each collected grid — a per-attribute linear
      // filter would rescan the full array per attribute (O(attrs ×
      // cells) of driver CPU on the interactive path)
      Grids(
        lineCells.toSeq.groupMap(r => (r.getString(0).toInt, r.getString(1)))(
          r => (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4))),
        hoverGrid.toSeq.groupMap(r => (r.getInt(0), r.getString(1)))(r =>
            (r.getLong(2).toInt, r.getDouble(3), r.getDouble(4), r.getLong(5)))
          .map { case (key, cols) => key -> cols.sortBy(_._1) })
    }
  }

  /** [[imageQuery]]'s body over a window read from `window`. */
  private[graft] def imageOf(window: ImageWindow, attrs: Seq[AttrSpec],
      t0Us: Long, t1Us: Long, width: Int, height: Int,
      axes: Map[Int, AxisSpec], antialias: Boolean): ImageResult = {
    val byAxis = attrs.groupBy(_.yAxis).toSeq
    val specs = byAxis.map { case (axis, _) =>
      axes.getOrElse(axis, AxisSpec()) }
    val names = attrs.map(_.name).distinct
    def slotsBy(indices: String => Seq[Int]): Map[String, Seq[Int]] =
      names.map(n => n -> indices(n)).toMap
    // phase 1 — extrema per (slot, attribute) (A2/A7, plot.py:74-109);
    // only log-axis rows must be positive
    val ex = window.extrema(
      slotsBy(n => byAxis.indices.filter(byAxis(_)._2.exists(_.name == n))),
      specs.indices.filter(specs(_).isLog))
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
    val images = Map.newBuilder[String, AxisImage]
    val descs = Map.newBuilder[String, HoverDesc]
    if (drawn.nonEmpty) {
      // phase 2 — one line raster and one hover fold over every drawn
      // (slot, present attribute) pair, keyed by the slot's index in
      // `drawn`, which is also its y-scale's index
      val scales = drawn.map { i =>
        val (lo, hi) = ranges(i).get
        YScale(lo, hi, specs(i).isLog)
      }
      val grids = window.grids(
        slotsBy(n => drawn.indices.filter(s => present(drawn(s)).contains(n))),
        RasterParams(2, t0Us, t1Us, width, height, scales.toIndexedSeq),
        antialias)

      drawn.zipWithIndex.foreach { case (i, s) =>
        val (axis, axisAttrs) = byAxis(i)
        val (yLo, yHi) = ranges(i).get
        val layers = axisAttrs.filter(a => present(i).contains(a.name))
          .map { a =>
            // eq-hist is datashader's default and therefore the
            // reference's (plot.py:36); Render.shade is the linear option
            Render.shadeEqHist(Render.Grid(a.name, a.color, width, height,
              grids.cells.getOrElse((s, a.name), Nil)))
          }
        val img = Render.stack(layers, width, height)
        images += axis.toString -> AxisImage(Render.pngBase64(img),
          (yLo, yHi), (t0Us / 1000.0, t1Us / 1000.0))

        // hover reductions (A6, plot.py:44-60) — column-level rows
        // (px, col_min, col_max, col_count)
        present(i).foreach { name =>
          val cols = grids.columns.getOrElse((s, name), Nil)
          val indices = cols.map(_._1)
          descs += name -> HoverDesc(
            ex.get((i, name)).map(_._3).getOrElse(0L),
            indices,
            cols.map(_._2),
            cols.map(_._3),
            indices.map(c =>
              t0Us + (c + 0.5) * (t1Us - t0Us) / width), // column centers, µs
            cols.map(_._4))
        }
      }
    }
    ImageResult(images.result(), descs.result())
  }
}
