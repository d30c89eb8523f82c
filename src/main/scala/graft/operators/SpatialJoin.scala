package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  *      (points) or its own multi-level cover (boxes) — the LEVEL SET
  *      actually used is collected from the bbox side first (a tiny
  *      bbox-columns-only aggregate; when every geometry is small the set
  *      is one level and the ladder collapses to the old single-cell key).
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

  /** distinct adaptive cover zooms present in `df` — a bbox-columns-only
    * aggregate (column-pruned scan, map-side combine), collected at
    * plan-build time so the probe side replicates only to levels some
    * geometry actually uses. Sorted descending for deterministic plans.
    */
  private def usedLevels(df: DataFrame, zoomCol: org.apache.spark.sql.Column): Array[Int] =
    df.select(zoomCol.as("__z")).distinct().collect()
      .map(_.getInt(0)).sortBy(-_)

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

    if (provablySmall(polys)) {
      // BROADCAST fast path (round-6 verdict #4): when footer stats bound
      // the polygon side small, broadcast the bounded cover index and the
      // geometry lookup — the points side is NEVER exchanged and there are
      // ZERO plan-build jobs (no usedLevels collect): the points probe
      // with their full ancestor LADDER (coverLevels(zz), ~zz/2 cells per
      // point, map-only — a shuffle-free superset of whatever level set
      // the polygons actually use; unmatched levels simply find no build
      // rows). Pair-unique as before: a polygon covers at ONE level, a
      // point has ONE ancestor per level.
      val lvls = graft.core.Slippy.coverLevels(zz).toArray
      val pts = Spread.forKernels(points).withColumn("__cell",
        explode(st_cover_at_levels(
          col(lonCol), col(latCol), col(lonCol), col(latCol), typedLit(lvls))))
      val candidates = pts.join(broadcast(idx), Seq("__cell"), "inner")
        .filter(col(lonCol) >= col(minxCol) && col(lonCol) <= col(maxxCol) &&
                col(latCol) >= col(minyCol) && col(latCol) <= col(maxyCol))
        .select(ptCols :+ col(idCol): _*)
      candidates
        .join(broadcast(polys.drop(minxCol, minyCol, maxxCol, maxyCol)), Seq(idCol), "inner")
        .filter(st_contains(col(polyCol), col(lonCol), col(latCol)))
        .select(ptCols ++ polyOut: _*)
    } else {
      val levels = usedLevels(polys, zoomCol)
      val pts = points.withColumn("__cell", explode(st_cover_at_levels(
        col(lonCol), col(latCol), col(lonCol), col(latCol), typedLit(levels))))

      val candidates = pts.join(idx, Seq("__cell"), "inner")
        .filter(col(lonCol) >= col(minxCol) && col(lonCol) <= col(maxxCol) &&
                col(latCol) >= col(minyCol) && col(latCol) <= col(maxyCol))
        .select(ptCols :+ col(idCol): _*)

      candidates.join(polys.drop(minxCol, minyCol, maxxCol, maxyCol), Seq(idCol), "inner")
        .filter(st_contains(col(polyCol), col(lonCol), col(latCol)))
        .select(ptCols ++ polyOut: _*)
    }
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
    // verify after the join runs at the probe side's parallelism
    val r = Spread.forKernels(right).withColumn("__cell",
      st_cell_at(col(lonR), col(latR), lit(zz)))
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
    * collected level set (and vice versa) — geometrically shrinking
    * covers, so the per-row total stays ≤ cap + a small coarse tail. Cells
    * pack their zoom, so a pair (a, b) can only meet at a level both sides
    * emitted, and the REPORTING-CELL rule picks exactly one meeting: the
    * pair is kept only in the cell of the intersection rectangle's
    * north-west corner `(max of minxes, min of maxys)` at level
    * `min(za, zb)`. That corner lies inside both boxes, so its cell is in
    * both covers at that level; every other meeting is dropped map-side by
    * a cheap predicate. ONE shuffle, no distinct exchange, no unbounded
    * replication.
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
    if (smallA || smallB) {
      // BROADCAST fast path (round-6 verdict #4): one side's footer stats
      // bound it small — broadcast that side and drop BOTH plan-build
      // usedLevels jobs and the shuffle. Each side emits its cover at
      // EVERY ladder level ≤ its own zoom (geometrically shrinking, so
      // ≤ cap·16/15 + #levels cells per row, map-only); a pair then meets
      // at every common level ≤ min(za, zb) and the reporting-cell rule
      // (which pins level min(za, zb)) keeps exactly one meeting — the
      // same dedupe invariant as the shuffle plan below.
      val lvls = graft.core.Slippy.coverLevels(zz).toArray
      def ladderUpTo(own: org.apache.spark.sql.Column) =
        filter(typedLit(lvls), lv => lv <= own)
      val ea0 = (if (smallA) a else Spread.forKernels(a)).withColumn("__za", zaCol)
        .withColumn("__cell", explode(st_cover_at_levels(
          col(aMinx), col(aMiny), col(aMaxx), col(aMaxy), ladderUpTo(col("__za")))))
      val eb0 = (if (smallB) b else Spread.forKernels(b)).withColumn("__zb", zbCol)
        .withColumn("__cell", explode(st_cover_at_levels(
          col(bMinx), col(bMiny), col(bMaxx), col(bMaxy), ladderUpTo(col("__zb")))))
      val joined =
        if (smallB) ea0.join(broadcast(eb0), Seq("__cell"), "inner")
        else broadcast(ea0).join(eb0, Seq("__cell"), "inner")
      joined
        .filter(overlap && col("__cell") === reportingCell)
        .select(outCols: _*)
    } else {
      val usedA = usedLevels(a, zaCol)
      val usedB = usedLevels(b, zbCol)

      // a row's emission levels: min(own zoom, each level the OTHER side
      // uses) — covers shrink 4× per coarser step, so the row total is
      // ≤ cap + cap/16 + … even when the other side spans every level
      def levelsFor(own: org.apache.spark.sql.Column, other: Array[Int]) =
        array_distinct(transform(typedLit(other), o => least(own, o)))

      val ea = a.withColumn("__za", zaCol)
        .withColumn("__cell", explode(st_cover_at_levels(
          col(aMinx), col(aMiny), col(aMaxx), col(aMaxy),
          levelsFor(col("__za"), usedB))))
      val eb = b.withColumn("__zb", zbCol)
        .withColumn("__cell", explode(st_cover_at_levels(
          col(bMinx), col(bMiny), col(bMaxx), col(bMaxy),
          levelsFor(col("__zb"), usedA))))

      ea.join(eb, Seq("__cell"), "inner")
        .filter(overlap && col("__cell") === reportingCell)
        .select(outCols: _*)
    }
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
