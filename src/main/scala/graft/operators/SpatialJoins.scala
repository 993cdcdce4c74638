package graft.operators

import graft.functions.GraftFunctions._
import graft.geom.{CellHistogram, CellIndex, CellQuadtree}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed spatial joins (SURVEY.md §2.2 E7-E9), built the Spark-first
  * way: declarative cell equi-joins that Catalyst/AQE can plan (broadcast
  * vs sort-merge, skew splitting), with the exact geometry refine as a
  * post-join filter expression. No theta joins, no cross joins on the hot
  * path, no driver-side loops over rows.
  */
object SpatialJoins {

  /** Sentinel `level`: let the operator pick the cell level itself from
    * the data (see [[autoLevel]] / the kNN label histogram). A wrong
    * manual level is the engine's biggest 100x-scale foot-gun — a
    * too-fine grid makes PIP covers explode 4x per level; a too-coarse one
    * stops pruning.
    */
  val AutoLevel: Int = Int.MinValue

  /** Cell level for a PIP join, from the polygon side's TYPICAL bbox: the
    * level at which the MEDIAN sampled polygon's bbox spans ~`targetCells`
    * cover cells (the per-polygon rule CellIndex.coverLevelFor applies to
    * one polygon, aggregated here with an approximate median over a
    * bounded sample — robust to one Norway in a sea of parcels; the skew
    * machinery, AQE + salting, owns the outliers). One tiny sampling job
    * (`limit` keeps it a partial scan) per auto-level join.
    */
  def autoLevel(polygons: DataFrame, targetCells: Int = 16,
                sampleN: Int = 1024): Int = {
    val fx = expr("array_max(transform(exterior, p -> p.x))") -
      expr("array_min(transform(exterior, p -> p.x))")
    val fy = expr("array_max(transform(exterior, p -> p.y))") -
      expr("array_min(transform(exterior, p -> p.y))")
    val row = polygons.select(col("exterior")).limit(sampleN)
      .select(greatest(fx / CellIndex.SpanX, fy / CellIndex.SpanY).as("f"))
      .agg(expr("percentile_approx(f, 0.5, 1000)")).head()
    val frac = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    if (frac <= 0.0) 9 // empty/degenerate side: the historical default
    else {
      val perAxis = math.sqrt(targetCells.toDouble)
      val lvlF = math.floor(math.log(perAxis / frac) / math.log(2.0)).toInt
      math.max(0, math.min(CellIndex.MaxLevel, lvlF))
    }
  }

  /** Point-in-polygon join.
    *
    * points:   (..., x: double, y: double)
    * polygons: (poly_id, exterior, holes)
    *
    * Stage 1 — prefilter: explode each polygon's exact cell cover at
    * `level` and equi-join on the point's cell (the shuffle key is a
    * single long — dense, salt-able, AQE-splittable). Stage 2 — refine:
    * exact ray-cast `pip`. The cover is exact (cells intersecting the
    * polygon), so prefilter ⊇ truth and refine ⊆ prefilter = truth.
    *
    * The broadcast path uses TWO SLIM broadcasts instead of one fat one:
    * the per-cell fan-out carries only (cell_id, poly_id) and the geometry
    * is broadcast once per polygon for the refine. Broadcasting geometry
    * per cover cell made the (single-threaded) broadcast-relation build
    * the dominant serial fraction at high parallelism — measured as the
    * round-1 pip_join scaling-efficiency miss (0.43).
    *
    * `broadcastPolygons`: Some(true)/Some(false) force the path; None
    * (default) broadcasts unless the polygon side's optimizer stats are
    * file-backed AND above 16x autoBroadcastJoinThreshold — a mega-polygon
    * parquet table routes to the sort-merge path automatically (AQE still
    * splits skewed cells), while synthesized/unknown-stats dimension
    * tables keep the broadcast.
    */
  def pipJoin(points: DataFrame, polygons: DataFrame, level: Int = AutoLevel,
              broadcastPolygons: Option[Boolean] = None): DataFrame = {
    val spark = points.sparkSession
    val lvl = if (level == AutoLevel) autoLevel(polygons) else level
    val doBroadcast = broadcastPolygons.getOrElse {
      val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
      if (thr <= 0) false // user disabled broadcasting entirely — honor it
      else {
        val st = polygons.queryExecution.optimizedPlan.stats
        // "unknown stats" means the plan contains a stats-less LEAF (its
        // sizeInBytes is the conf's defaultSizeInBytes sentinel): that
        // reads as the dimension-table assumption (a caller with a
        // genuinely huge stats-less table passes Some(false)). The leaf
        // check matters: a projection/filter over a stats-less leaf
        // SCALES the sentinel, so the old top-of-plan equality test
        // misread any such frame as known-huge and silently disabled the
        // documented dimension-table default. A plan whose leaves all
        // have real stats but whose estimate multiplied its way to a
        // huge number is KNOWN-huge — no broadcast.
        val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
        // A plan MIXING a stats-less leaf with a known-huge scan (join /
        // union over both) must NOT read as "unknown => broadcast": that
        // would flip the safe failure mode (skip broadcast, slower) into
        // a multi-GB broadcast build and a driver OOM. "Unknown" only
        // when every known leaf is already individually under the
        // broadcast cap — then the stats-less part is the only wildcard
        // and the dimension-table assumption stands.
        val leaves = polygons.queryExecution.optimizedPlan.collectLeaves()
        val (statless, known) =
          leaves.partition(_.stats.sizeInBytes == sentinel)
        val unknown = (st.sizeInBytes == sentinel || statless.nonEmpty) &&
          known.forall(_.stats.sizeInBytes <= BigInt(thr) * 16)
        if (unknown) true
        else {
          // size what is actually broadcast: the slim (cell_id, poly_id)
          // cover fan-out (16 B x cells-per-polygon; rowCount when CBO
          // stats exist, else geometry bytes as a same-order proxy — a
          // ~100-vertex polygon's geometry and its cover rows are
          // comparable at the nominal level 10) PLUS the geometry once
          // per polygon. Cover fan-out grows ~4x per level past the
          // nominal measurement level (area-dominated covers), so the
          // per-polygon cell estimate scales with `level` instead of
          // pinning 64 — a level-14 cover is ~256x a level-10 one and a
          // fixed estimate would under-size the broadcast badly.
          val cellsPerPoly =
            if (lvl >= 10) BigInt(64) << (2 * math.min(lvl - 10, 16))
            else (BigInt(64) >> (2 * (10 - lvl))) max BigInt(4)
          val coverBytes = st.rowCount.map(rc => rc * 16 * cellsPerPoly)
            .getOrElse(st.sizeInBytes * cellsPerPoly / 64)
          st.sizeInBytes + coverBytes <= BigInt(thr) * 16
        }
      }
    }
    val pts = points.withColumn("cell_id", cell_of(col("x"), col("y"), lit(lvl)))
    val joined = if (doBroadcast) {
      val cellMap = polygons.select(col("poly_id"),
        explode(polygon_cover(col("exterior"), col("holes"), lit(lvl))).as("cell_id"))
      pts.join(broadcast(cellMap), "cell_id")
        .join(broadcast(polygons), "poly_id")
    } else {
      // shuffle path, two-stage like the broadcast path: shuffle the SLIM
      // (cell_id, poly_id) cover against the points, then re-join the
      // geometry once per matched pair by poly_id, so a mega-polygon's
      // geometry never rides the cell shuffle once per cover cell
      // (measured in COVERAGE.md).
      val cover = polygons.select(col("poly_id"),
        explode(polygon_cover(col("exterior"), col("holes"), lit(lvl))).as("cell_id"))
      pts.join(cover, "cell_id")
        .join(polygons, "poly_id")
    }
    joined
      .where(pip(col("x"), col("y"), col("exterior"), col("holes")))
      .drop("cell_id", "exterior", "holes", "tolerance")
  }

  /** PIP join with explicit salting for hot cells (E8): dense point
    * regions joined against mega-polygon covers make single cell_ids
    * carry a disproportionate share of the shuffle. Points get a
    * deterministic salt in [0, salt); the polygon side replicates each
    * cover cell across all salt values, so one hot cell fans out over
    * `salt` shuffle partitions. Use the unsalted variant + AQE when in
    * doubt; this one is for known-pathological skew.
    */
  def pipJoinSalted(points: DataFrame, polygons: DataFrame, level: Int,
                    salt: Int): DataFrame = {
    val cover = polygons
      .withColumn("cell_id", explode(polygon_cover(col("exterior"), col("holes"), lit(level))))
      .withColumn("salt", explode(lit((0 until salt).toArray)))
    points
      .withColumn("cell_id", cell_of(col("x"), col("y"), lit(level)))
      .withColumn("salt", pmod(xxhash64(col("x"), col("y")), lit(salt)).cast("int"))
      .join(cover, Seq("cell_id", "salt"))
      .where(pip(col("x"), col("y"), col("exterior"), col("holes")))
      .drop("cell_id", "salt", "exterior", "holes", "tolerance")
  }

  /** Distance-within (radius) join: every (point, label) pair with
    * Euclidean distance <= radius — the classic spatial range join
    * (fixed radius, no ranking: kNN's sibling on SURVEY.md E9's
    * cell-grid machinery, reference kernel distance semantics per
    * /root/reference/src/lib.rs signed-distance conventions).
    *
    * points: (point_id, x, y, ...); labels: (poly_id, lx, ly).
    *
    * Plan shape (the 100 TB contract): each point explodes the kRing of
    * its own cell whose Chebyshev ring provably covers the radius
    * (k = floor(radius/cellDim) + 1 per axis — the +1 absorbs boundary
    * straddling, so the cover is lossless at any level); labels keep
    * their ONE home cell, so the cell equi-join emits each qualifying
    * pair exactly once — no distinct, no window, no cross join at any
    * density. The refine step is one codegen'd d2 <= r² filter. With
    * `broadcastLabels = false` the join shuffles both sides
    * co-partitioned by cell (AQE-splittable; same truth).
    *
    * AutoLevel picks the FINEST grid whose cell still exceeds the
    * radius (k stays 1, ring = 9 cells/point) — finer cells would grow
    * k quadratically, coarser ones sweep needless candidates into the
    * refine filter.
    *
    * Output: point columns + (poly_id, dist). dist = sqrt(d2) is exact
    * IEEE (products+sums then one sqrt), reproducible bit-for-bit by
    * any engine mirroring the expression shape.
    */
  def radiusJoin(points: DataFrame, labels: DataFrame, radius: Double,
                 level: Int = AutoLevel,
                 broadcastLabels: Boolean = true): DataFrame = {
    require(radius > 0.0, s"radius must be positive, got $radius")
    val lvl = if (level == AutoLevel) radiusAutoLevel(radius) else level
    val cellW = CellIndex.SpanX / CellIndex.gridSize(lvl).toDouble
    val cellH = CellIndex.SpanY / CellIndex.gridSize(lvl).toDouble
    val k = math.max(math.floor(radius / cellW).toInt + 1,
      math.floor(radius / cellH).toInt + 1)
    val lab = labels
      .withColumn("lcell", cell_of(col("lx"), col("ly"), lit(lvl)))
    val labSide = if (broadcastLabels) broadcast(lab) else lab
    val ptCols = points.columns.toSeq
    points
      .withColumn("cell",
        explode(cell_kring(cell_of(col("x"), col("y"), lit(lvl)), lit(k))))
      .join(labSide, col("cell") === col("lcell"))
      .withColumn("d2", (col("x") - col("lx")) * (col("x") - col("lx")) +
        (col("y") - col("ly")) * (col("y") - col("ly")))
      .where(col("d2") <= lit(radius * radius))
      .select(ptCols.map(col) :+ col("poly_id") :+ sqrt(col("d2")).as("dist"): _*)
  }

  /** Finest level whose cell dimension still exceeds the radius on both
    * axes (cellH = SpanY/2^L is the binding one), clamped to the grid.
    */
  def radiusAutoLevel(radius: Double): Int = {
    val lvlF = math.floor(math.log(CellIndex.SpanY / radius) / math.log(2.0)).toInt
    math.max(0, math.min(CellIndex.MaxLevel, lvlF))
  }

  /** k-nearest-neighbour join: for every point, the k nearest labels by
    * squared distance, ties broken by `poly_id` (bound-then-replicate in
    * the style of Lu et al., EDBT 2012, with quadkey cells as pivots;
    * SURVEY.md E9).
    *
    * points: (point_id, x, y);  labels: (poly_id, lx, ly)
    * Output: (point_id, poly_id, d2, dist, rank), an ordinary lazy frame.
    *
    * One pass in three steps:
    *  1. Histogram: one job over the label side counts labels per cell
    *     and the driver builds a count quadtree of the non-empty cells
    *     ([[graft.geom.CellQuadtree]]). The leaf level is `level` when
    *     given, else the finest level whose occupied cells hold >= 2
    *     labels on average — local density, so clustered labels cannot
    *     fool it the way a global label count does.
    *  2. Per-point search: the `knn_cells` expression runs a best-first
    *     search over the broadcast quadtree from its root. It returns the
    *     point's own guarantee D² and the non-empty leaves whose nearest
    *     edge lies within D.
    *  3. Join and rank: the points explode those leaves, run one cell
    *     equi-join against the labels (broadcast, or a shuffle on the cell
    *     key with `broadcastLabels = false`), keep `d2 <= D²` and rank with
    *     one `row_number` window ordered by (d2, poly_id).
    *
    * Why the result is exact:
    *  - D² is the smallest value such that the leaves whose FARTHEST
    *    corner lies within D hold >= k labels. Those labels all lie
    *    within D, so the k-th ranked label, and every label tied with it
    *    on d2, lies within D too. Every label within D sits in a leaf
    *    whose NEAREST edge lies within D, so it is a candidate, and the
    *    filter keeps it: ranking the candidates ranks all labels.
    *  - Float rounding: the filter bound is D² widened by a relative
    *    slack, and the cell cut uses a strictly wider one
    *    (CellQuadtree.FilterSlack < CutSlack), so rounding can never drop
    *    a label the filter would keep. A border cell's rectangle extends to
    *    the labels' bounding box, which covers out-of-domain labels that
    *    `cell_of` clamps into it.
    *  - With fewer than k labels in the table, D = infinity and every
    *    label is a candidate: the answer is the top-(what exists). An
    *    empty label table gives an empty result.
    *  - The search starts at the quadtree root, so a point far from every
    *    label needs no extra rounds: its D simply comes out large.
    *
    * Cost: one histogram job before the call returns, whatever the data;
    * the label projection is evaluated twice (histogram and join). The
    * histogram holds at most min(#labels, 2^20) cells: a partition or a
    * merge that would hold more rolls up one level at a time. The result
    * owns no storage; `Caching.release(result)` is a harmless call. A
    * point or label with a NaN or null coordinate gets or gives no rows.
    */
  def knnJoin(points: DataFrame, labels: DataFrame, k: Int,
              level: Int = AutoLevel,
              broadcastLabels: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(level == AutoLevel || (level >= 0 && level <= CellIndex.MaxLevel),
      s"level $level outside 0..${CellIndex.MaxLevel}")
    val lab = labels.select(col("poly_id"), col("lx"), col("ly"))
    val hist = labelHistogram(lab, if (level == AutoLevel) CellIndex.MaxLevel else level)
    val leaf = if (level == AutoLevel) CellHistogram.autoLeafLevel(hist) else hist.level
    val tree = points.sparkSession.sparkContext.broadcast(CellQuadtree(hist, leaf))
    val labCells = lab.withColumn("lcell", cell_of(col("lx"), col("ly"), lit(leaf)))
    // squared distance in exact-order arithmetic (products and sums only),
    // reproducible bit-for-bit by any engine; sqrt only for `dist`
    val d2 = (col("x") - col("lx")) * (col("x") - col("lx")) +
      (col("y") - col("ly")) * (col("y") - col("ly"))
    val cand = points
      .select(col("point_id"), col("x"), col("y"),
        knn_cells(col("x"), col("y"), lit(k), tree).as("knn"))
      .select(col("point_id"), col("x"), col("y"), col("knn.r2").as("r2"),
        explode(col("knn.cells")).as("cell"))
      .join(if (broadcastLabels) broadcast(labCells) else labCells,
        col("cell") === col("lcell"))
      .select(col("point_id"), col("poly_id"), d2.as("d2"), col("r2"))
      .where(col("d2") <= col("r2"))
    val w = Window.partitionBy("point_id").orderBy(col("d2"), col("poly_id"))
    cand.select(col("point_id"), col("poly_id"), col("d2"), row_number().over(w).as("rank"))
      .where(col("rank") <= k)
      .select(col("point_id"), col("poly_id"), col("d2"), sqrt(col("d2")).as("dist"),
        col("rank"))
  }

  /** Labels per cell at `level`, from one job over (lx, ly): each
    * partition builds its own histogram and the driver merges them as the
    * tasks finish, both sides rolling up a level whenever more than
    * CellHistogram.MaxCells cells are occupied.
    */
  private def labelHistogram(labels: DataFrame, level: Int): CellHistogram =
    labels.select(col("lx"), col("ly")).queryExecution.toRdd
      .mapPartitions { rows =>
        val b = new CellHistogram.Builder(level)
        rows.foreach(r => if (!r.isNullAt(0) && !r.isNullAt(1)) b.add(r.getDouble(0), r.getDouble(1)))
        Iterator.single(b.result())
      }
      .fold(CellHistogram.empty(level))(CellHistogram.merge(_, _))
}
