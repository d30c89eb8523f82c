package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Slippy
import graft.functions.GeomFunctions._

/** Distributed spatial joins for the case the broadcast form (q03's plan)
  * cannot serve: BOTH sides at cluster scale, so neither fits on an
  * executor. Semantics are the reference's planar rules (ring.go
  * containment, planar.PointDistance, closed-interval bbox overlap) —
  * only the join strategy changes.
  *
  * REPLICATION IS BOUNDED PER ROW (round-5 verdict #1). The naive grid
  * join explodes every geometry to its bbox cover at the point-density
  * zoom, which ships one copy of the row per cover cell — unbounded: a
  * continent-scale bbox at z=10 covers ~10^5 cells. Two fixes compose:
  *
  *   1. **Per-row adaptive cover zoom** (`st_cover_zoom`): each bbox
  *      coarsens its own cover level down the `Slippy.coverLevels` ladder
  *      until it fits ≤ `cap` cells (64 by default; the z=3 floor covers
  *      the world in 64 cells, so the bound is universal). Cells pack
  *      their zoom, so mixed-level cells never collide as join keys. The
  *      other side meets a row at its level via the ancestor ladder
  *      (points) or its own multi-level cover (boxes), at the LEVEL SET
  *      the bbox side actually uses: a one-row `collect_set` of the zooms,
  *      aggregated inside the query's plan and broadcast onto the other
  *      side, so building the frame runs no Spark job and a null bbox
  *      drops out (when every geometry is small the set is one level and
  *      the ladder collapses to the old single-cell key). A side that
  *      footer stats prove small is broadcast instead, and the other side
  *      probes the whole ladder, which needs no aggregate.
  *
  *   2. **Payload-free index side** (pipJoin): only (id, bbox, cell) rides
  *      the cover exchange — never the WKB. Matched candidate pairs join
  *      the geometry back by id (one row per id, broadcastable when small)
  *      for the exact predicate.
  */
object SpatialJoin {

  /** per-row cover-cell cap: 64 = the whole-world cover at the z=3 floor,
    * so EVERY bbox is guaranteed a qualifying level.
    */
  val DefaultCoverCap = 64

  /** Bounds under which a join side takes the BROADCAST plan (round-6
    * verdict #4: reclaim the bounded-cover plans' constant cost when
    * footer stats prove a side small). Decided from parquet FOOTER
    * metadata only ([[graft.sources.PlanStats.exact]]) — no Spark job, no
    * scan: a side qualifies when it is a (projection of a) bare parquet
    * scan of few files whose exact footer row count is under
    * `BroadcastRowLimit` AND whose uncompressed footer bytes, replicated to
    * at most `DefaultCoverCap` cover cells plus the geometry lookup, fit
    * the same worst-case broadcast budget: 65536 rows × ≤64 cover cells ×
    * ~48 B ≈ 200 MB, well under the 8 GB cap. The byte bound catches few
    * rows with wide payloads, which the row bound alone lets through.
    * Anything unprovable (filtered frames, many files) takes the shuffle
    * plan.
    */
  val BroadcastRowLimit = 65536L
  private val BroadcastByteBudget = BroadcastRowLimit * DefaultCoverCap * 48L
  private val MaxBroadcastFiles = 64

  /** true iff footer metadata PROVES `df` small enough to broadcast. */
  private[graft] def provablySmall(df: DataFrame): Boolean =
    df.inputFiles.length <= MaxBroadcastFiles &&
      graft.sources.PlanStats.exact(df).exists(f => f.rows <= BroadcastRowLimit &&
        f.bytes <= BroadcastByteBudget / (DefaultCoverCap + 1))

  /** `df` with one more column, `__lv`: the distinct cover zooms `zoom`
    * takes over `from`'s rows, descending — a one-row aggregate of `from`,
    * broadcast onto every row of `df`. It runs inside the query's own plan,
    * so building the frame launches no Spark job; a null zoom (null bbox)
    * is not collected.
    */
  private def withUsedLevels(df: DataFrame, from: DataFrame, zoom: Column): DataFrame =
    df.crossJoin(broadcast(from.agg(sort_array(collect_set(zoom), asc = false).as("__lv"))))

  /** `points(lonCol, latCol)` × `polys(idCol, polyCol, minxCol..maxyCol)` →
    * all (point, polygon) rows where the polygon contains the point
    * (reference ring.go ContainsPoint rules via `st_contains`).
    * Output columns: every `points` column, then every `polys` column
    * except the bbox (the bbox is an index artifact, not a result).
    *
    * Plan shape (the 100 TB path):
    *   - polygons ship ONLY (id, bbox, cell) through the cover exchange —
    *     ≤ `cap` cells each at their per-row adaptive zoom, never the WKB;
    *   - points explode to their ancestor cells at the level set the
    *     polygons actually use (usually one level) — map-only;
    *   - ONE shuffle join on the packed cell id + a closed-interval bbox
    *     prefilter kills most candidates before anything wide moves;
    *   - surviving (point, id) pairs join the geometry back by `idCol`
    *     (unique per polygon row — caller contract) for the exact
    *     `st_contains`; Catalyst broadcasts that side when it is small.
    *
    * When footer stats prove the polygon side small (round-6 verdict #4),
    * the same plan broadcasts the cover index and the geometry lookup, so
    * the points side is never exchanged, and the points probe the full
    * ancestor LADDER (`coverLevels(zz)`, ~zz/2 cells per point) — a
    * superset of the used level set that needs no aggregate; unmatched
    * levels find no build rows.
    *
    * Pair-unique by construction: a polygon's cover is at ONE level and
    * lists each cell once; a point has exactly one ancestor per level —
    * so a (point, polygon) pair can meet in at most one cell and the
    * join-back multiplies by exactly one geometry row.
    *
    * `z < 0` (default) derives the max zoom from the points' plan
    * statistics via `Knn.zoomForPlan` (~15 points/cell target).
    */
  def pipJoin(points: DataFrame, lonCol: String, latCol: String,
              polys: DataFrame, idCol: String, polyCol: String,
              minxCol: String = "minx", minyCol: String = "miny",
              maxxCol: String = "maxx", maxyCol: String = "maxy",
              z: Int = -1, cap: Int = DefaultCoverCap): DataFrame = {
    val zz = if (z >= 0) z else Knn.zoomForPlan(points)
    val ptCols = points.columns.map(col).toSeq
    val polyOut = polys.columns.filterNot(
      Set(minxCol, minyCol, maxxCol, maxyCol).contains).map(col).toSeq

    val zoomCol = st_cover_zoom(col(minxCol), col(minyCol),
      col(maxxCol), col(maxyCol), lit(zz), lit(cap))

    // index side: id + bbox only — the geometry never rides the cover
    val idx = polys.select(col(idCol), col(minxCol), col(minyCol),
        col(maxxCol), col(maxyCol))
      .withColumn("__cell", explode(st_tiles_for_bounds(
        col(minxCol), col(minyCol), col(maxxCol), col(maxyCol), zoomCol)))

    val small = provablySmall(polys)
    def build(df: DataFrame) = if (small) broadcast(df) else df
    val (probe, levels) =
      if (small) (Spread.forKernels(points), typedLit(Slippy.coverLevels(zz).toArray))
      else (withUsedLevels(points, polys, zoomCol), col("__lv"))
    val pts = probe.withColumn("__cell", explode(st_cover_at_levels(
        col(lonCol), col(latCol), col(lonCol), col(latCol), levels)))
      .drop("__lv")

    val candidates = pts.join(build(idx), Seq("__cell"), "inner")
      .filter(col(lonCol) >= col(minxCol) && col(lonCol) <= col(maxxCol) &&
              col(latCol) >= col(minyCol) && col(latCol) <= col(maxyCol))
      .select(ptCols :+ col(idCol): _*)
    candidates
      .join(build(polys.drop(minxCol, minyCol, maxxCol, maxyCol)), Seq(idCol), "inner")
      .filter(st_contains(col(polyCol), col(lonCol), col(latCol)))
      .select(ptCols ++ polyOut: _*)
  }

  /** Within-distance join (range join): all (left, right) pairs with
    * Euclidean degree distance ≤ `radius` (planar.PointDistance metric,
    * the same one `Knn` certifies against). Neither side broadcast:
    *
    *   - right points key by their single cell;
    *   - left points replicate to the cell COVER OF THEIR DISC BBOX
    *     (lon±r, lat±r) — exact at any zoom and any latitude, unlike a
    *     fixed 3×3 neighborhood (mercator cells shrink in degree height
    *     toward the poles);
    *   - one shuffle join on the cell, exact distance filter.
    *
    * Replication here is already bounded per row WITHOUT the adaptive
    * ladder: the default zoom is the coarser of the density-derived zoom
    * and the radius bound (cell width ≥ radius keeps a disc cover at
    * ≤ ~9 cells), and the radius is a join-level constant, so the bound
    * holds for every row at the single shared level.
    *
    * Pair-unique without a dedupe: the right point owns ONE cell and the
    * left cover lists each cell once. Output: left columns, right columns,
    * `dist2` (squared distance — callers needing the metric take sqrt
    * once, not per comparison). Column names must not collide across sides.
    */
  def distanceJoin(left: DataFrame, lonL: String, latL: String,
                   right: DataFrame, lonR: String, latR: String,
                   radius: Double, z: Int = -1): DataFrame = {
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val shared = left.columns.toSet intersect right.columns.toSet
    require(shared.isEmpty, s"column names collide across sides: $shared")
    val radiusZ =
      if (radius <= 0) 16
      else math.min(16, math.max(0, math.floor(
        math.log(360.0 / radius) / math.log(2.0)).toInt))
    val zz = if (z >= 0) z else math.min(Knn.zoomForPlan(right), radiusZ)
    // conditional kernel spread (no-op when splits >= cores): the pair
    // verify after the join runs at the probe side's parallelism. The key
    // is non-nullable: from a nullable one Catalyst infers
    // `isnotnull(__cell)` and pushes the cell kernel through the spread to
    // the scan. −1 is no cell, so a point without coordinates meets nothing.
    val r = Spread.forKernels(right).withColumn("__cell",
      coalesce(st_cell_at(col(lonR), col(latR), lit(zz)), lit(-1L)))
    val l = Spread.forKernels(left).withColumn("__cell", explode(st_tiles_for_bounds(
      col(lonL) - radius, col(latL) - radius,
      col(lonL) + radius, col(latL) + radius, lit(zz))))
    val d2 = (col(lonL) - col(lonR)) * (col(lonL) - col(lonR)) +
      (col(latL) - col(latR)) * (col(latL) - col(latR))
    l.join(r, Seq("__cell"), "inner")
      .withColumn("dist2", d2)
      .filter(col("dist2") <= lit(radius * radius))
      .select((left.columns.map(col) ++ right.columns.map(col) :+ col("dist2")).toIndexedSeq: _*)
  }

  /** Extent (bbox-overlap) join: all (a, b) pairs whose closed-interval
    * boxes intersect — the HIERARCHICAL multi-level form, per-row bounded
    * on BOTH sides.
    *
    * Each row picks its adaptive cover zoom (≤ `cap` cells). A pair whose
    * sides sit at different levels meets at the SHALLOWER of the two: side
    * a emits its cover at every level `min(za, zb')` for `zb'` in b's
    * level set (and vice versa) — geometrically shrinking covers, so the
    * per-row total stays ≤ cap + a small coarse tail. Cells pack their
    * zoom, so a pair (a, b) can only meet at a level both sides emitted,
    * and the REPORTING-CELL rule picks exactly one meeting: the pair is
    * kept only in the cell of the intersection rectangle's north-west
    * corner `(max of minxes, min of maxys)` at level `min(za, zb)`. That
    * corner lies inside both boxes, so its cell is in both covers at that
    * level; every other meeting is dropped map-side by a cheap predicate.
    * ONE shuffle, no distinct exchange, no unbounded replication.
    *
    * The other side's level set is the one it uses, read from the plan
    * (`withUsedLevels`). When footer stats prove one side small, that side
    * is broadcast, the other is spread and never exchanged, and the level
    * set is the whole ladder: each row then emits at every ladder level
    * ≤ its own zoom (≤ cap·16/15 + #levels cells, map-only).
    *
    * `z < 0` (default) derives the max zoom from both sides' plan
    * statistics via `Knn.zoomForPlan` (the finer of the two density
    * zooms — the per-row cap coarsens large boxes back out). Output: a's
    * columns then b's columns (names must not collide).
    */
  def extentJoin(a: DataFrame, aMinx: String, aMiny: String, aMaxx: String, aMaxy: String,
                 b: DataFrame, bMinx: String, bMiny: String, bMaxx: String, bMaxy: String,
                 z: Int = -1, cap: Int = DefaultCoverCap): DataFrame = {
    val shared = a.columns.toSet intersect b.columns.toSet
    require(shared.isEmpty, s"column names collide across sides: $shared")
    val zz = if (z >= 0) z
      else math.max(Knn.zoomForPlan(a), Knn.zoomForPlan(b))

    val zaCol = st_cover_zoom(col(aMinx), col(aMiny), col(aMaxx), col(aMaxy),
      lit(zz), lit(cap))
    val zbCol = st_cover_zoom(col(bMinx), col(bMiny), col(bMaxx), col(bMaxy),
      lit(zz), lit(cap))

    val overlap =
      col(aMinx) <= col(bMaxx) && col(bMinx) <= col(aMaxx) &&
      col(aMiny) <= col(bMaxy) && col(bMiny) <= col(aMaxy)
    val reportingCell = st_cell_at(
      greatest(col(aMinx), col(bMinx)), least(col(aMaxy), col(bMaxy)),
      least(col("__za"), col("__zb")))
    val outCols = (a.columns.map(col) ++ b.columns.map(col)).toIndexedSeq

    val smallA = provablySmall(a)
    val smallB = !smallA && provablySmall(b)
    val ladder = typedLit(Slippy.coverLevels(zz).toArray)

    // a row's emission levels: min(own zoom, each level in `other`) —
    // covers shrink 4× per coarser step, so the row total is
    // ≤ cap + cap/16 + … even when the other side spans every level
    def levelsFor(own: Column, other: Column) =
      array_distinct(transform(other, o => least(own, o)))
    // one side's cover rows, tagged with its zoom column `own`; `from` and
    // `fromZoom` are the other side, whose levels it emits at
    def side(df: DataFrame, small: Boolean, own: String, zoom: Column,
             bbox: Seq[String], from: DataFrame, fromZoom: Column) = {
      val (rows, other) =
        if (smallA || smallB) (if (small) df else Spread.forKernels(df), ladder)
        else (withUsedLevels(df, from, fromZoom), col("__lv"))
      val out = rows.withColumn(own, zoom)
        .withColumn("__cell", explode(st_cover_at_levels(
          col(bbox(0)), col(bbox(1)), col(bbox(2)), col(bbox(3)),
          levelsFor(col(own), other))))
        .drop("__lv")
      if (small) broadcast(out) else out
    }
    side(a, smallA, "__za", zaCol, Seq(aMinx, aMiny, aMaxx, aMaxy), b, zbCol)
      .join(side(b, smallB, "__zb", zbCol, Seq(bMinx, bMiny, bMaxx, bMaxy), a, zaCol),
        Seq("__cell"), "inner")
      .filter(overlap && col("__cell") === reportingCell)
      .select(outCols: _*)
  }

  /** PIP join over PRE-BUCKETED catalog tables — the zero-exchange form
    * for a corpus that is spatially joined REPEATEDLY. Both tables must
    * have been written by [[graft.sources.CatalogIO.writeBucketed]] on the
    * same cell column with the SAME bucket count (points carry their cell,
    * polygons one row per cover cell with the geometry). Matching cells
    * then live in matching buckets, so the join plans with NO shuffle
    * exchange on either side — the cell shuffle was paid once at layout
    * time and is amortized over every subsequent join, which at 100 TB is
    * the difference between re-shuffling the corpus per query and reading
    * co-located splits.
    *
    * The merge hint pins the sort-merge strategy (a broadcastable polygon
    * side would otherwise take the broadcast plan and hide the layout
    * property this operator exists to exploit; with broadcast the bucketed
    * layout is pointless anyway). Exactness is unchanged: the cell match
    * is the same candidate generator as [[pipJoin]], and `st_contains`
    * applies the reference containment rules to every candidate.
    */
  def pipJoinBucketed(spark: org.apache.spark.sql.SparkSession,
                      pointsTable: String, polysTable: String,
                      cellCol: String, lonCol: String, latCol: String,
                      polyCol: String): DataFrame =
    spark.table(pointsTable).hint("merge")
      .join(spark.table(polysTable), Seq(cellCol))
      .filter(st_contains(col(polyCol), col(lonCol), col(latCol)))
}
