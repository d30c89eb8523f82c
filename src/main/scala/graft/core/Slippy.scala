package graft.core

import graft.core.Geom._

/** Slippy (web-mercator z/x/y) tile math.
  *
  * Bit-parity targets from /root/reference/slippy/maths.go, tile.go and
  * tile_grid.go:
  *   - lon2Num: x = trunc(((180+lon)/360 · tileSize·2^z + 1e-6) / tileSize);
  *     lon ≤ −180 ⇒ 0, lon ≥ 180 ⇒ 2^z − 1 (maths.go:100-135)
  *   - lat2Num: y from (180 − deg(ln tan(45° + lat/2)))/360 (the reference's
  *     non-standard degree-space formulation), same +1e-6 nudge and trunc;
  *     lat < −85.05112 ⇒ 2^z − 1, lat > 85.05112 ⇒ 0 (maths.go:19-94).
  *     NOTE Lat4326Max is 85.05112 — not the usual 85.05113.
  *   - inverse x2deg/y2deg via atan-sinh (maths.go:141-153)
  *   - FamilyAt / FromBounds tile enumeration (tile.go:76-145)
  *
  * Tiles are packed into a single Long cell id `(z << 58) | (x << 29) | y`
  * (z ≤ 22 ⇒ x,y < 2^22 < 2^29) so Spark can shuffle/join/sort on one
  * long column; the packing preserves the reference's (z, x, y) sort order
  * (tile.go:43-51 Less).
  *
  * This is the 4326 grid's math; every other SRID (3857 included) reaches
  * it through [[TileGrid]], which inverse-projects into it.
  */
object Slippy {

  final val TileSize = 256
  val Lat4326Max = 85.05112
  val Lon4326Max = 180.0
  val FloatVariance = 0.000001
  val MaxZoom = 22

  @inline def n(z: Int): Double = math.pow(2, z) // Zoom.N = Exp2(z)

  @inline def deg2rad(d: Double): Double = d * math.Pi / 180
  @inline def rad2deg(r: Double): Double = r * 180 / math.Pi

  /** reference maths.go:75-94 lat2Px. */
  def lat2Px(z: Int, lat: Double): Double = {
    val worldSize = TileSize.toDouble * n(z)
    val radLat = deg2rad(45 + lat / 2)
    val latNormalized = math.log(math.tan(radLat))
    val yPxRaw = (180 - rad2deg(latNormalized)) / 360
    yPxRaw * worldSize + FloatVariance
  }

  /** reference maths.go:55-72 lat2Num. */
  def lat2Num(z: Int, lat: Double): Int = {
    if (lat < -Lat4326Max) return (n(z) - 1).toInt
    if (lat > Lat4326Max) return 0
    (lat2Px(z, lat) / TileSize.toDouble).toInt
  }

  /** reference maths.go:121-135 lon2Px. */
  def lon2Px(z: Int, lon: Double): Double = {
    val worldSize = TileSize.toDouble * n(z)
    val xPxRaw = (180 + lon) / 360
    xPxRaw * worldSize + FloatVariance
  }

  /** reference maths.go:100-118 lon2Num. */
  def lon2Num(z: Int, lon: Double): Int = {
    if (lon <= -Lon4326Max) return 0
    if (lon >= Lon4326Max) return (n(z) - 1).toInt
    (lon2Px(z, lon) / TileSize.toDouble).toInt
  }

  /** reference maths.go:141-146 */
  def x2deg(z: Int, x: Int): Double = (x.toDouble / n(z)) * 360.0 - 180.0

  /** reference maths.go:148-153 */
  def y2deg(z: Int, y: Int): Double = {
    val nn = math.Pi - 2.0 * math.Pi * y.toDouble / n(z)
    180.0 / math.Pi * math.atan(0.5 * (math.exp(nn) - math.exp(-nn)))
  }

  // ---- packed cell ids ----

  /** z outside 0..MaxZoom fails: past z = 29 x and y outgrow their 29 bits
    * and overwrite the fields above them, and a negative z fills z's field.
    */
  @inline def pack(z: Int, x: Long, y: Long): Long = {
    if (z < 0 || z > MaxZoom) badZoom(z)
    (z.toLong << 58) | (x << 29) | y
  }
  // kept out of `pack` so the per-cell path stays small enough to inline
  private def badZoom(z: Int): Nothing =
    throw new IllegalArgumentException(s"zoom $z is outside 0..$MaxZoom")

  /** fails unless z is in 0..MaxZoom and x and y are in 0..2^z − 1: a
    * caller's tile index, checked as a Long before any narrowing to Int.
    */
  @inline def checkTile(z: Int, x: Long, y: Long): Unit = {
    if (z < 0 || z > MaxZoom) badZoom(z)
    val n = 1L << z
    if (x < 0 || x >= n || y < 0 || y >= n) badTile(z, x, y)
  }
  private def badTile(z: Int, x: Long, y: Long): Nothing =
    throw new IllegalArgumentException(
      s"tile ($x, $y) is outside 0..${(1L << z) - 1} at zoom $z")

  @inline def unpackZ(cell: Long): Int = (cell >>> 58).toInt
  @inline def unpackX(cell: Long): Long = (cell >>> 29) & 0x1FFFFFFFL
  @inline def unpackY(cell: Long): Long = cell & 0x1FFFFFFFL

  /** FromNative for the 4326 grid (reference tile_grid.go:153-161). */
  def cellAt(z: Int, lon: Double, lat: Double): Long =
    pack(z, lon2Num(z, lon).toLong, lat2Num(z, lat).toLong)

  /** reference tile.go:76-99 FamilyAt — ancestor at zoom ≤ z via shifts,
    * descendants via the 2^mag × 2^mag block.
    */
  def familyAt(cell: Long, zoom: Int): IndexedSeq[Long] = {
    val z = unpackZ(cell); val x = unpackX(cell); val y = unpackY(cell)
    if (zoom <= z) {
      val mag = z - zoom
      Vector(pack(zoom, x >> mag, y >> mag))
    } else {
      val mag = zoom - z
      val delta = 1L << mag
      val leastX = x << mag
      val leastY = y << mag
      val out = Vector.newBuilder[Long]
      var xi = leastX
      while (xi < leastX + delta) {
        var yi = leastY
        while (yi < leastY + delta) {
          out += pack(zoom, xi, yi)
          yi += 1
        }
        xi += 1
      }
      out.result()
    }
  }

  /** reference tile.go:111-145 FromBounds over the 4326 grid: tiles covering
    * the bbox (corner tiles normalized to min/max, dense x/y loop).
    */
  def fromBounds(z: Int, minLon: Double, minLat: Double,
                 maxLon: Double, maxLat: Double): IndexedSeq[Long] = {
    val x1 = lon2Num(z, minLon); val y1 = lat2Num(z, minLat)
    val x2 = lon2Num(z, maxLon); val y2 = lat2Num(z, maxLat)
    val (minx, maxx) = if (x1 > x2) (x2, x1) else (x1, x2)
    val (miny, maxy) = if (y1 > y2) (y2, y1) else (y1, y2)
    val out = Vector.newBuilder[Long]
    var x = minx
    while (x <= maxx) {
      var y = miny
      while (y <= maxy) {
        out += pack(z, x.toLong, y.toLong)
        y += 1
      }
      x += 1
    }
    out.result()
  }

  // ---- EPSG:3857 (spherical web-mercator) ----
  // The spherical Mercator forward/inverse behind Projection.Epsg3857; its
  // grid is TileGrid.WebMercator.

  val EarthRadius = 6378137.0

  /** lon/lat (4326) → web-mercator meters. */
  def lonLatToMerc(lon: Double, lat: Double): (Double, Double) = {
    val x = EarthRadius * deg2rad(lon)
    val y = EarthRadius * math.log(math.tan(math.Pi / 4 + deg2rad(lat) / 2))
    (x, y)
  }

  /** web-mercator meters → lon/lat (4326). */
  def mercToLonLat(x: Double, y: Double): (Double, Double) = {
    val lon = rad2deg(x / EarthRadius)
    val lat = rad2deg(2 * math.atan(math.exp(y / EarthRadius)) - math.Pi / 2)
    (lon, lat)
  }

  /** tile extent in web-mercator meters. */
  def tileExtent3857(z: Int, x: Int, y: Int): Extent = TileGrid.WebMercator.extent(z, x, y)

  // ---- adaptive (bounded) bbox covers ----
  //
  // The distributed spatial joins replicate a row once per cover cell, so an
  // unbounded `fromBounds` at a point-density zoom is a scale killer: one
  // continent-size bbox at z=10 covers ~10^5 cells and ships its payload that
  // many times through the exchange. The adaptive cover instead coarsens the
  // cover zoom PER ROW until the cell count fits a cap: levels step down by
  // CoverLevelStep from the join's max zoom to CoverFloorZ (8×8 = 64 cells
  // spans the whole grid, so every bbox fits ≤ max(cap, 64) cells at the
  // floor). Cells pack their zoom (see `pack`), so mixed-level cells are
  // distinct join keys and a point meets a bbox only at the bbox's own level.

  /** 8×8 cells at z=3 cover the world — every bbox cover fits 64 cells here. */
  val CoverFloorZ = 3

  /** zoom stride between adaptive-cover levels: step 2 keeps the level count
    * (= small-side replication in the hierarchical joins) at ~zmax/2 while a
    * one-step coarsening still shrinks a cover 4×.
    */
  val CoverLevelStep = 2

  /** the descending level ladder `zmax, zmax-2, …` down to (and always
    * including) [[CoverFloorZ]]. `zmax ≤ CoverFloorZ` degenerates to the floor.
    */
  def coverLevels(zmax: Int): IndexedSeq[Int] = {
    val top = math.max(CoverFloorZ, math.min(MaxZoom, zmax))
    val b = Vector.newBuilder[Int]
    var z = top
    while (z > CoverFloorZ) { b += z; z -= CoverLevelStep }
    b += CoverFloorZ
    b.result()
  }

  /** `fromBounds(z, …).size` without enumerating the cells. */
  def coverCountAt(z: Int, minLon: Double, minLat: Double,
                   maxLon: Double, maxLat: Double): Long = {
    val x1 = lon2Num(z, minLon); val y1 = lat2Num(z, minLat)
    val x2 = lon2Num(z, maxLon); val y2 = lat2Num(z, maxLat)
    (math.abs(x2 - x1) + 1).toLong * (math.abs(y2 - y1) + 1).toLong
  }

  /** deepest level of [[coverLevels]](zmax) whose cover of the bbox has
    * ≤ `cap` cells; the floor level if none does (≤ 64 cells there).
    */
  def coverZoomFor(zmax: Int, cap: Int, minLon: Double, minLat: Double,
                   maxLon: Double, maxLat: Double): Int = {
    val levels = coverLevels(zmax)
    var i = 0
    while (i < levels.length - 1) {
      if (coverCountAt(levels(i), minLon, minLat, maxLon, maxLat) <= cap)
        return levels(i)
      i += 1
    }
    levels.last
  }

  /** concatenated `fromBounds` covers of one bbox at each of `levels`
    * (callers pass distinct levels; a degenerate point bbox yields exactly
    * one cell per level — the point's ancestor ladder).
    */
  def coverAtLevels(levels: IndexedSeq[Int], minLon: Double, minLat: Double,
                    maxLon: Double, maxLat: Double): IndexedSeq[Long] = {
    val b = Vector.newBuilder[Long]
    var i = 0
    while (i < levels.length) {
      b ++= fromBounds(levels(i), minLon, minLat, maxLon, maxLat)
      i += 1
    }
    b.result()
  }
}
