package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GeomFunctions._

/** Cell-pruned k-nearest-neighbor join (reference kd-tree kNN semantics,
  * planar/index/kdtree + SURVEY.md §2.13, re-expressed as one compact
  * plan with no persisted frames):
  *
  *  1. ONE GRID LEVEL at zoom `z`: each query is replicated to its 3×3
  *     cell block, points keep their single cell, and an equi-join on the
  *     cell key yields the candidates. One sentinel row per query (`nid`
  *     null, `dist2` +∞) joins them before a single qid window, so every
  *     query leaves that window with its ≤ k nearest candidates and its
  *     kth candidate distance² `kth_dist2` (+∞ when it has fewer than k).
  *     A query is CERTIFIED exact when `kth_dist2` ≤ its squared distance
  *     to the block boundary: no point outside the block can be closer.
  *  2. THE FALLBACK IS CHOSEN UP FRONT per uncertified query from its own
  *     bound: the true k nearest neighbours all lie in the disc of radius
  *     √`kth_dist2`. When that disc fits inside the query's 3×3 block at
  *     z−2 (same margin rule), the query pairs with the points of those
  *     cells; every other one pairs with every point. One broadcast hash
  *     join serves both routes ([[fallbackPairs]]); pairs beyond the disc
  *     are dropped and one window ranks the rest.
  *  3. The result is certified ∪ fallback — exactly the true kNN
  *     (Euclidean in lon/lat degree space, planar.PointDistance2; ties on
  *     dist2 ordered by nid).
  *
  * There is no anti-join, no groupBy and no persist: the level's subtree
  * appears once per consumer and its exchanges are reused, so the whole
  * operator is one job DAG. An empty fallback collapses at run time under
  * AQE; with AQE off it costs one map-only scan of the points.
  */
object Knn {

  /** pick a grid zoom targeting ≤ ~15 points per cell: deep enough that
    * the candidate join stays small, shallow enough that the 3×3 block
    * margin certifies nearly every query. The CEILING of log4(n/15) lands
    * 3.75-15 points per cell (the floor landed 15-60 and measured a 5.6 GB
    * window-sort spill at the ×10 tier); a 3×3 block still holds 34-135
    * points, far above k. Exactness never depends on z.
    */
  def zoomFor(nPoints: Long): Int = {
    val cellsWanted = math.max(1.0, nPoints / 15.0)
    val z = math.ceil(math.log(cellsWanted) / math.log(4.0)).toInt
    math.max(3, math.min(12, z))
  }

  /** grid zoom from PlanStats' metadata-only row estimate — no Spark job,
    * no scan, so building the plan never waits on a count.
    */
  def zoomForPlan(points: DataFrame): Int =
    zoomFor(graft.sources.PlanStats.estimatedRows(points))

  private val dist2 = (col("qlon") - col("lon")) * (col("qlon") - col("lon")) +
    (col("qlat") - col("lat")) * (col("qlat") - col("lat"))

  private val byDist = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid").asc)

  private def cellKey(z: Int, tx: Column, ty: Column): Column = shiftleft(tx, z).bitwiseOR(ty)

  /** packed cell key (tx << z) | ty of (lon, lat) at zoom z */
  private def cellOf(z: Int, lon: Column, lat: Column): Column =
    cellKey(z, st_lon2tile(lon, lit(z)), st_lat2tile(lat, lit(z)))

  /** packed keys of the in-range cells of the 3×3 block around (lon, lat)
    * at zoom z; boundary blocks keep their clamped side.
    */
  private def block(z: Int, lon: Column, lat: Column): Column = {
    val (tx, ty) = (st_lon2tile(lon, lit(z)), st_lat2tile(lat, lit(z)))
    val maxT = (1L << z) - 1
    val keys = for (dx <- -1 to 1; dy <- -1 to 1) yield {
      val (x, y) = (tx + dx, ty + dy)
      when(x >= 0 && x <= maxT && y >= 0 && y <= maxT, cellKey(z, x, y))
    }
    filter(array(keys: _*), _.isNotNull)
  }

  /** squared distance from (qlon, qlat) to the boundary of its 3×3 block
    * at zoom z. A side on the grid edge is open (points past it clamp
    * into the edge cells), so it never limits the margin. Capped below
    * +∞, so a query with fewer than k candidates never passes.
    */
  private def margin2(z: Int): Column = {
    val qtx = st_lon2tile(col("qlon"), lit(z))
    val qty = st_lat2tile(col("qlat"), lit(z))
    val maxT = (1L << z) - 1
    val open = lit(Double.MaxValue)
    val m = least(
      when(qtx === 0, open).otherwise(col("qlon") - st_tile2lon(lit(z), qtx - 1)),
      when(qtx === maxT, open).otherwise(st_tile2lon(lit(z), qtx + 2) - col("qlon")),
      when(qty === 0, open).otherwise(st_tile2lat(lit(z), qty - 1) - col("qlat")),
      when(qty === maxT, open).otherwise(col("qlat") - st_tile2lat(lit(z), qty + 2)))
    least(m * m, open)
  }

  /** queries(qid, qlon, qlat) × points(pid, lon, lat) → (qid, nid, dist2, rk).
    * `z < 0` (default) derives the zoom from the points' plan statistics
    * ([[zoomForPlan]]), the spatial joins' convention. Duplicate query
    * rows count as they do in the brute-force join: each one pairs with
    * every point.
    */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int, z: Int = -1): DataFrame = {
    if (z < 0) return knnJoin(queries, points, k, zoomForPlan(points))
    // a null qid pairs with nothing (brute force's qid <> pid is null).
    // Filtering it here also keeps the fallback's join from pushing an
    // inferred `qid IS NOT NULL` into only one copy of the level below,
    // which would stop the two copies sharing their exchanges.
    val q = queries.select(col("qid"), col("qlon"), col("qlat")).filter(col("qid").isNotNull)
    val qCells = q.select(col("qid"), col("qlon"), col("qlat"),
      explode(block(z, col("qlon"), col("qlat"))).as("cell"))
    // the candidate probe is the hot stage: the conditional spread keeps
    // it off SCAN parallelism (measured 12.9 s of serial CPU on q21 at
    // sf0.1 from one file)
    // a non-nullable join key: from a nullable one Catalyst infers
    // `isnotnull(cell)` and pushes it, the tile kernels inlined, through
    // the spread to the scan. −1 is no block cell, so a point without
    // coordinates still meets no query.
    val p = Spread.forKernels(points).select(col("pid"), col("lon"), col("lat"),
      coalesce(cellOf(z, col("lon"), col("lat")), lit(-1L)).as("cell"))
    // The cell-key shuffle CONCENTRATES each query's block candidates, so
    // the map-side partial top-k below (WindowGroupLimit, from row_number
    // + rk <= k) caps the qid exchange at k rows per query and partition.
    // Broadcasting the query side scatters them (×10 tier: 7.6 GB spill);
    // a top-k aggregate instead of the window measured 10-30× slower.
    val candidates = qCells.join(p, "cell")
      .filter(col("qid") =!= col("pid"))
      .select(col("qid"), col("qlon"), col("qlat"), col("pid").as("nid"), dist2.as("dist2"))
    val sentinel = q.select(col("qid"), col("qlon"), col("qlat"),
      lit(null).cast("long").as("nid"), lit(Double.PositiveInfinity).as("dist2"))
    val ranked = candidates.unionByName(sentinel)
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") <= k)
      .withColumn("kth_dist2", max(col("dist2")).over(Window.partitionBy(col("qid"))))
      .withColumn("certified", col("kth_dist2") <= margin2(z))
    val certified = ranked.filter(col("certified"))
      .select(col("qid"), col("nid"), col("dist2"), col("rk").cast("long").as("rk"))
    // every row of each uncertified query (a duplicated query row pairs
    // twice, as in brute force), with the qid's kth candidate distance²
    val bounds = ranked.filter(!col("certified") && col("rk") === 1)
      .select(col("qid"), col("kth_dist2").as("bound_d2"))
    val open = q.join(broadcast(bounds), "qid")
    val nearest = fallbackPairs(open, points, z - 2)
      .filter(col("qid") =!= col("pid"))
      .select(col("qid"), col("pid").as("nid"), dist2.as("dist2"), col("bound_d2"))
      .filter(col("dist2") <= col("bound_d2"))
      .withColumn("rk", row_number().over(byDist).cast("long"))
      .filter(col("rk") <= k)
      .drop("bound_d2")
    certified.unionByName(nearest)
  }

  /** The fallback's pairs, before any distance filter, for the uncertified
    * queries `open(qid, qlon, qlat, bound_d2)`; `bound_d2` bounds each
    * query's true kth distance², so its k nearest neighbours lie in the
    * disc of that radius. The route is chosen per query up front:
    *  - the disc fits inside its 3×3 block at zoom z (z ≥ 2): the query
    *    keys its 9 cells and pairs with the points of those cells;
    *  - otherwise it keys the brute key −1, which every point carries.
    * One BROADCAST hash join serves both routes, so the points stream
    * through map-only and are never shuffled. The build holds at most 9
    * rows per uncertified query, bounded by the query side, which every
    * kNN call treats as the small one.
    */
  private[graft] def fallbackPairs(open: DataFrame, points: DataFrame, z: Int): DataFrame = {
    val brute = array(lit(-1L))
    val (queryKeys, pointKeys) =
      if (z < 2) (brute, brute)
      else (when(col("bound_d2") <= margin2(z), block(z, col("qlon"), col("qlat"))).otherwise(brute),
        array(cellOf(z, col("lon"), col("lat")), lit(-1L)))
    val keyed = open.select(col("qid"), col("qlon"), col("qlat"), col("bound_d2"),
      explode(queryKeys).as("key"))
    points.select(col("pid"), col("lon"), col("lat"), explode(pointKeys).as("key"))
      .join(broadcast(keyed), "key")
      .select(col("qid"), col("qlon"), col("qlat"), col("bound_d2"),
        col("pid"), col("lon"), col("lat"))
  }
}
