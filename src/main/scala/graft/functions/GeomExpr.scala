package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.KernelExpr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.core.Geom._
import graft.core.WkbKernels.geomOrNull

/** The geometry, tile and planar kernels behind this file's expressions,
  * one method each (see KernelExpr for the calling convention). Kernels
  * that are plain `Slippy` or `WkbKernels` methods are called there
  * directly.
  */
object GeomKernels {
  val pointStruct: StructType =
    StructType(Seq(StructField("x", DoubleType, false), StructField("y", DoubleType, false)))
  val segStruct: StructType = StructType(Seq(
    StructField("x1", DoubleType, false), StructField("y1", DoubleType, false),
    StructField("x2", DoubleType, false), StructField("y2", DoubleType, false)))
  val envStruct: StructType = StructType(Seq(
    StructField("minx", DoubleType, false), StructField("miny", DoubleType, false),
    StructField("maxx", DoubleType, false), StructField("maxy", DoubleType, false)))
  val intersectStruct: StructType = StructType(Seq(
    StructField("x", DoubleType, false), StructField("y", DoubleType, false),
    StructField("ok", BooleanType, false)))
  val mvtStruct: StructType = StructType(Seq(
    StructField("commands", ArrayType(LongType, containsNull = false), false),
    StructField("geom_type", IntegerType, false)))

  def utf8(s: String): UTF8String = UTF8String.fromString(s)
  def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)
  private def envRow(e: Extent): InternalRow = row(e.minx, e.miny, e.maxx, e.maxy)
  private def longs(vs: Seq[Long]): ArrayData = new GenericArrayData(vs.toArray)

  // codecs / constructors / accessors

  def asWkt(geo: Array[Byte]): UTF8String = {
    val g = geomOrNull(geo)
    if (g == null) null else utf8(Wkt.encode(g))
  }

  def asGeoJson(geo: Array[Byte]): UTF8String = {
    val g = geomOrNull(geo)
    if (g == null) null else utf8(GeoJson.encode(g))
  }

  def fromGeoJson(text: UTF8String): Array[Byte] =
    try Wkb.encode(GeoJson.decode(text.toString))
    catch { case _: Exception => null }

  def point(x: Double, y: Double): Array[Byte] = Wkb.encode(GPoint((x, y)))

  def boxPolygon(minx: Double, miny: Double, maxx: Double, maxy: Double): Array[Byte] =
    Wkb.encode(Extent(minx, miny, maxx, maxy).asPolygon)

  def pointX(geo: Array[Byte]): java.lang.Double = geomOrNull(geo) match {
    case GPoint(p) => p._1
    case _         => null
  }

  def pointY(geo: Array[Byte]): java.lang.Double = geomOrNull(geo) match {
    case GPoint(p) => p._2
    case _         => null
  }

  def geomType(geo: Array[Byte]): UTF8String = geomOrNull(geo) match {
    case null                => null
    case _: GPoint           => utf8("Point")
    case _: GMultiPoint      => utf8("MultiPoint")
    case _: GLineString      => utf8("LineString")
    case _: GMultiLineString => utf8("MultiLineString")
    case _: GPolygon         => utf8("Polygon")
    case _: GMultiPolygon    => utf8("MultiPolygon")
    case _: GCollection      => utf8("GeometryCollection")
  }

  def envelope(geo: Array[Byte]): InternalRow = {
    val g = geomOrNull(geo)
    if (g == null) null else Extent.ofGeometry(g).map(envRow).orNull
  }

  def dumpPoints(geo: Array[Byte]): ArrayData = {
    val g = geomOrNull(geo)
    if (g == null) null
    else new GenericArrayData(coordinates(g).map(p => row(p._1, p._2)).toArray[Any])
  }

  def segmentsOf(geo: Array[Byte]): ArrayData = {
    val g = geomOrNull(geo)
    if (g == null) null
    else new GenericArrayData(segments(g).map(s => row(s.x1, s.y1, s.x2, s.y2)).toArray[Any])
  }

  def numPoints(geo: Array[Byte]): java.lang.Integer = {
    val g = geomOrNull(geo)
    if (g == null) null else coordinates(g).length
  }

  // slippy tiles

  def lon2Tile(lon: Double, z: Int): Long = Slippy.lon2Num(z, lon).toLong
  def lat2Tile(lat: Double, z: Int): Long = Slippy.lat2Num(z, lat).toLong
  def tile2Lon(z: Int, x: Long): Double = Slippy.x2deg(z, x.toInt)
  def tile2Lat(z: Int, y: Long): Double = Slippy.y2deg(z, y.toInt)

  def familyAt(cell: Long, zoom: Int): ArrayData = longs(Slippy.familyAt(cell, zoom))

  def tilesForBounds(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                     z: Int): ArrayData =
    longs(Slippy.fromBounds(z, minLon, minLat, maxLon, maxLat))

  def tilesForBounds3857(minX: Double, minY: Double, maxX: Double, maxY: Double,
                         z: Int): ArrayData =
    longs(Slippy.fromBounds3857(z, minX, minY, maxX, maxY))

  def coverAtLevels(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                    levels: ArrayData): ArrayData =
    longs(Slippy.coverAtLevels(levels.toIntArray().toIndexedSeq,
      minLon, minLat, maxLon, maxLat))

  def tileEnvelope(cell: Long): InternalRow =
    envRow(Slippy.tileExtent4326(Slippy.unpackZ(cell), Slippy.unpackX(cell).toInt,
      Slippy.unpackY(cell).toInt))

  def tileExtent3857(z: Int, x: Long, y: Long): InternalRow =
    envRow(Slippy.tileExtent3857(z, x.toInt, y.toInt))

  // geometry transforms

  def simplify(geo: Array[Byte], tol: Double): Array[Byte] = {
    val g = geomOrNull(geo)
    if (g == null) null else Wkb.encode(Simplify.geometry(g, tol))
  }

  def clip(geo: Array[Byte], minx: Double, miny: Double,
           maxx: Double, maxy: Double): Array[Byte] = geomOrNull(geo) match {
    case null | _: GPolygon | _: GMultiPolygon | _: GCollection => null
    case g => Clip.geometry(g, Some(Extent(minx, miny, maxx, maxy))).map(Wkb.encode).orNull
  }

  /** NaN clip coordinates mean "no clipbox". */
  def makeValid(geo: Array[Byte], minx: Double, miny: Double,
                maxx: Double, maxy: Double): Array[Byte] = {
    val clip =
      if (minx.isNaN || miny.isNaN || maxx.isNaN || maxy.isNaN) None
      else Some(Extent(minx, miny, maxx, maxy))
    val g = geomOrNull(geo)
    if (g == null) return null
    try MakeValid.geometry(g, clip).map(Wkb.encode).orNull
    catch { case _: Exception => null }
  }

  def winding(geo: Array[Byte]): java.lang.Integer = geomOrNull(geo) match {
    case null                                                 => null
    case GPolygon(rs) if rs.nonEmpty                          => Winding.ofPoints(rs.head)
    case GLineString(ps)                                      => Winding.ofPoints(ps)
    case GMultiPolygon(mp) if mp.nonEmpty && mp.head.nonEmpty => Winding.ofPoints(mp.head.head)
    case _                                                    => 0
  }

  def rectifyPolygon(geo: Array[Byte]): Array[Byte] = geomOrNull(geo) match {
    case GPolygon(rs)      => Winding.rectifyPolygon(rs).map(f => Wkb.encode(GPolygon(f))).orNull
    case GMultiPolygon(mp) => Wkb.encode(GMultiPolygon(mp.flatMap(p => Winding.rectifyPolygon(p))))
    case _                 => null
  }

  def centroidRef(geo: Array[Byte]): InternalRow = {
    val pts = geomOrNull(geo) match {
      case GPolygon(rs) if rs.nonEmpty => rs.head
      case GLineString(ps)             => ps
      case GPoint(p)                   => return row(p._1, p._2)
      case _                           => return null
    }
    val (cx, cy) = Planar.pointsCentroidRef(pts)
    row(cx, cy)
  }

  // MVT

  def prepareExtent(geo: Array[Byte], minx: Double, miny: Double,
                    maxx: Double, maxy: Double): Array[Byte] = {
    val g = geomOrNull(geo)
    if (g == null) null else Wkb.encode(Mvt.prepareGeo(g, Extent(minx, miny, maxx, maxy)))
  }

  private def mvtRow(g: Geom.Geometry): InternalRow = {
    val (cmds, tpe) = Mvt.encodeGeometryRaw(g)
    row(new GenericArrayData(cmds), tpe)
  }

  def mvtGeometry(geo: Array[Byte]): InternalRow = {
    val g = geomOrNull(geo)
    if (g == null) null else mvtRow(g)
  }

  def mvtPipeline(geo: Array[Byte], z: Int, x: Long, y: Long): InternalRow = {
    val g = geomOrNull(geo)
    if (g == null) return null
    val ext = Slippy.tileExtent3857(z, x.toInt, y.toInt)
    val webs = (ext.maxx - ext.minx) / 4096.0
    val simp = Simplify.geometry(g, webs)
    val clip = Extent(ext.minx - webs, ext.miny - webs, ext.maxx + webs, ext.maxy + webs)
    val fixed =
      try MakeValid.geometry(simp, Some(clip)).orNull
      catch { case _: Exception => null }
    if (fixed == null) null else mvtRow(Mvt.prepareGeo(fixed, ext))
  }

  // scalar planar math

  def perpendicularDistance(x1: Double, y1: Double, x2: Double, y2: Double,
                            px: Double, py: Double): Double =
    Planar.perpendicularDistance(Seg(x1, y1, x2, y2), px, py)

  def distanceToSegment(x1: Double, y1: Double, x2: Double, y2: Double,
                        px: Double, py: Double): Double =
    Planar.distanceToLineSegment((px, py), (x1, y1), (x2, y2))

  def segIntersect(x1: Double, y1: Double, x2: Double, y2: Double,
                   x3: Double, y3: Double, x4: Double, y4: Double): InternalRow = {
    val ((x, y), ok) = Planar.segmentIntersect(Seg(x1, y1, x2, y2), Seg(x3, y3, x4, y4))
    row(x, y, ok)
  }

  def orient(x1: Double, y1: Double, x2: Double, y2: Double,
             x3: Double, y3: Double): Int =
    Winding.ofPoints(Vector((x1, y1), (x2, y2), (x3, y3)))
}

import GeomKernels._

// ---------------------------------------------------------------------------
// codecs / constructors / accessors
// ---------------------------------------------------------------------------

/** WKT text → WKB binary (null on parse failure). reference wkt_decode.go. */
case class StGeomFromWkt(child: Expression)
    extends KernelExpr(WkbKernels, "fromWkt", BinaryType, StringType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** WKB → WKT text. reference wkt_encode.go. */
case class StAsWkt(child: Expression)
    extends KernelExpr(GeomKernels, "asWkt", StringType, BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** WKB → GeoJSON text (reference encoding/geojson). */
case class StAsGeoJson(geo: Expression)
    extends KernelExpr(GeomKernels, "asGeoJson", StringType, BinaryType) {
  override def children: Seq[Expression] = Seq(geo)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** GeoJSON text → WKB (null on parse failure). */
case class StGeomFromGeoJson(child: Expression)
    extends KernelExpr(GeomKernels, "fromGeoJson", BinaryType, StringType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** (x, y) → point WKB. */
case class StPoint(xe: Expression, ye: Expression)
    extends KernelExpr(GeomKernels, "point", BinaryType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(xe, ye)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** (minx,miny,maxx,maxy) → rectangle polygon WKB with the reference's
  * CW vertex order (bbox.go:35-42 Vertices / AsPolygon).
  */
case class StBoxPolygon(c1: Expression, c2: Expression, c3: Expression, c4: Expression)
    extends KernelExpr(GeomKernels, "boxPolygon", BinaryType,
      DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(c1, c2, c3, c4)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

case class StX(child: Expression)
    extends KernelExpr(GeomKernels, "pointX", DoubleType, BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StY(child: Expression)
    extends KernelExpr(GeomKernels, "pointY", DoubleType, BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StGeomType(child: Expression)
    extends KernelExpr(GeomKernels, "geomType", StringType, BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** bbox of a geometry (reference bbox.go AddGeometry / NewExtentFromGeometry). */
case class StEnvelope(child: Expression)
    extends KernelExpr(GeomKernels, "envelope", envStruct, BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** all coordinates (reference geom.go:331-406 GetCoordinates). */
case class StDumpPoints(child: Expression)
    extends KernelExpr(GeomKernels, "dumpPoints",
      ArrayType(pointStruct, containsNull = false), BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** all segments incl. ring-closing edges (reference geom.go:470-546). */
case class StSegmentsOf(child: Expression)
    extends KernelExpr(GeomKernels, "segmentsOf",
      ArrayType(segStruct, containsNull = false), BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StNumPoints(child: Expression)
    extends KernelExpr(GeomKernels, "numPoints", IntegerType, BinaryType) {
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

// ---------------------------------------------------------------------------
// point-in-polygon (hitmap semantics) and ring containment
// ---------------------------------------------------------------------------

/** Point-in-polygon with the reference's hitmap semantics (exterior rings
  * border-inclusive, holes border-exclusive, 20-bit point pre-rounding —
  * hitmap/polygon_hitmap.go:90-127); WkbKernels caches the decoded polygon
  * + hitmap per thread and WKB value.
  */
case class StContains(geo: Expression, xe: Expression, ye: Expression)
    extends KernelExpr(WkbKernels, "contains", BooleanType,
      BinaryType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(geo, xe, ye)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2))
}

/** Raw ray-cast ring containment (reference planar/intersect/ring.go:73-154)
  * against a polygon's exterior ring with explicit border flag.
  */
case class StRingContains(geo: Expression, xe: Expression, ye: Expression,
                          includeBorder: Expression)
    extends KernelExpr(WkbKernels, "ringContains", BooleanType,
      BinaryType, DoubleType, DoubleType, BooleanType) {
  override def children: Seq[Expression] = Seq(geo, xe, ye, includeBorder)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

// ---------------------------------------------------------------------------
// slippy tiles
// ---------------------------------------------------------------------------

/** (lon, lat, z) → packed cell id (z<<58 | x<<29 | y). */
case class StCellAt(lon: Expression, lat: Expression, z: Expression)
    extends KernelExpr(Slippy, "cellAt", LongType, DoubleType, DoubleType, IntegerType) {
  override def children: Seq[Expression] = Seq(lon, lat, z)
  override protected def kernelArgs: Seq[Expression] = Seq(z, lon, lat)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2))
}

case class StLon2Tile(lon: Expression, z: Expression)
    extends KernelExpr(GeomKernels, "lon2Tile", LongType, DoubleType, IntegerType) {
  override def children: Seq[Expression] = Seq(lon, z)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class StLat2Tile(lat: Expression, z: Expression)
    extends KernelExpr(GeomKernels, "lat2Tile", LongType, DoubleType, IntegerType) {
  override def children: Seq[Expression] = Seq(lat, z)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class StTile2Lon(z: Expression, x: Expression)
    extends KernelExpr(GeomKernels, "tile2Lon", DoubleType, IntegerType, LongType) {
  override def children: Seq[Expression] = Seq(z, x)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class StTile2Lat(z: Expression, y: Expression)
    extends KernelExpr(GeomKernels, "tile2Lat", DoubleType, IntegerType, LongType) {
  override def children: Seq[Expression] = Seq(z, y)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class StCellZ(cell: Expression)
    extends KernelExpr(Slippy, "unpackZ", IntegerType, LongType) {
  override def children: Seq[Expression] = Seq(cell)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StCellX(cell: Expression)
    extends KernelExpr(Slippy, "unpackX", LongType, LongType) {
  override def children: Seq[Expression] = Seq(cell)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StCellY(cell: Expression)
    extends KernelExpr(Slippy, "unpackY", LongType, LongType) {
  override def children: Seq[Expression] = Seq(cell)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** FamilyAt: ancestor (single) or descendants (2^mag × 2^mag block) —
  * reference tile.go:76-99.
  */
case class StFamilyAt(cell: Expression, zoom: Expression)
    extends KernelExpr(GeomKernels, "familyAt",
      ArrayType(LongType, containsNull = false), LongType, IntegerType) {
  override def children: Seq[Expression] = Seq(cell, zoom)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** tiles covering a lon/lat bbox at z — reference tile.go:111-145 FromBounds. */
case class StTilesForBounds(minLon: Expression, minLat: Expression,
                            maxLon: Expression, maxLat: Expression, z: Expression)
    extends KernelExpr(GeomKernels, "tilesForBounds", ArrayType(LongType, containsNull = false),
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType) {
  override def children: Seq[Expression] = Seq(minLon, minLat, maxLon, maxLat, z)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** FromBounds over the EPSG:3857 grid (reference slippy/tile_grid.go
  * FromBounds with the web-mercator native extent) — bounds in meters.
  */
case class StTilesForBounds3857(minX: Expression, minY: Expression,
                                maxX: Expression, maxY: Expression, z: Expression)
    extends KernelExpr(GeomKernels, "tilesForBounds3857", ArrayType(LongType, containsNull = false),
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType) {
  override def children: Seq[Expression] = Seq(minX, minY, maxX, maxY, z)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** per-row adaptive cover zoom: the deepest level of
  * `Slippy.coverLevels(zmax)` at which the bbox covers ≤ `cap` cells —
  * bounds a spatial join's per-row replication (a continent-scale bbox
  * coarsens itself instead of exploding to 10^5 point-density cells).
  * Composes the reference's FromBounds grid walk (tile.go:111-145) with
  * the TileMinMaxer idea (tile_grid.go:60-95) of climbing zooms until the
  * geometry fits.
  */
case class StCoverZoom(minLon: Expression, minLat: Expression,
                       maxLon: Expression, maxLat: Expression,
                       zmax: Expression, cap: Expression)
    extends KernelExpr(Slippy, "coverZoomFor", IntegerType,
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType, IntegerType) {
  override def children: Seq[Expression] = Seq(minLon, minLat, maxLon, maxLat, zmax, cap)
  override protected def kernelArgs: Seq[Expression] =
    Seq(zmax, cap, minLon, minLat, maxLon, maxLat)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4), c(5))
}

/** bbox cover cells at EACH of the given zoom levels, concatenated (cells
  * pack their zoom, so levels never collide as join keys). A degenerate
  * point bbox yields the point's ancestor ladder — one cell per level.
  */
case class StCoverAtLevels(minLon: Expression, minLat: Expression,
                           maxLon: Expression, maxLat: Expression, levels: Expression)
    extends KernelExpr(GeomKernels, "coverAtLevels", ArrayType(LongType, containsNull = false),
      DoubleType, DoubleType, DoubleType, DoubleType, ArrayType(IntegerType)) {
  override def children: Seq[Expression] = Seq(minLon, minLat, maxLon, maxLat, levels)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** tile extent in 4326 (reference tile_grid.go:48-58). */
case class StTileEnvelope(cell: Expression)
    extends KernelExpr(GeomKernels, "tileEnvelope", envStruct, LongType) {
  override def children: Seq[Expression] = Seq(cell)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** tile extent in web-mercator meters (reference slippy/tile_grid.go:96-108
  * FromNative/Extent for the 3857 grid): struct(minx,miny,maxx,maxy).
  */
case class StTileExtent3857(z: Expression, x: Expression, y: Expression)
    extends KernelExpr(GeomKernels, "tileExtent3857", envStruct,
      IntegerType, LongType, LongType) {
  override def children: Seq[Expression] = Seq(z, x, y)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2))
}

// ---------------------------------------------------------------------------
// geometry transforms
// ---------------------------------------------------------------------------

/** Douglas-Peucker (reference douglaspeucker.go + simplify.go dispatch). */
case class StSimplify(geo: Expression, tol: Expression)
    extends KernelExpr(GeomKernels, "simplify", BinaryType, BinaryType, DoubleType) {
  override def children: Seq[Expression] = Seq(geo, tol)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** clip to box (reference clip/clip.go dispatch; polygons ⇒ null, matching
  * ErrUnsupportedGeometry — they go through makevalid).
  */
case class StClip(geo: Expression, c1: Expression, c2: Expression,
                  c3: Expression, c4: Expression)
    extends KernelExpr(GeomKernels, "clip", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(geo, c1, c2, c3, c4)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** makevalid — constrained-Delaunay polygon repair as a scalar operator:
  * sequential per row, parallelism comes from rows
  * (reference planar/makevalid/makevalid.go:190-235; SURVEY.md §2.7).
  * NaN clip coordinates mean "no clipbox" (the reference's nil-extent-as-
  * universe convention, bbox.go:27-29).
  */
case class StMakeValid(geo: Expression, c1: Expression, c2: Expression,
                       c3: Expression, c4: Expression)
    extends KernelExpr(GeomKernels, "makeValid", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(geo, c1, c2, c3, c4)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** winding of the primary point sequence (reference winding.go Orientation,
  * y-up): polygon exterior ring / linestring vertices; -1 CW, 0 colinear,
  * 1 CCW.
  */
case class StWinding(geo: Expression)
    extends KernelExpr(GeomKernels, "winding", IntegerType, BinaryType) {
  override def children: Seq[Expression] = Seq(geo)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** RectifyPolygon (reference winding.go:203-236): exterior CW, holes CCW,
  * colinear rings dropped; colinear exterior ⇒ null.
  */
case class StRectifyPolygon(geo: Expression)
    extends KernelExpr(GeomKernels, "rectifyPolygon", BinaryType, BinaryType) {
  override def children: Seq[Expression] = Seq(geo)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** reference planar/centriod.go PointsCentriod — quirk preserved. Applied
  * to a polygon's exterior ring (open) or a linestring's points.
  */
case class StCentroidRef(geo: Expression)
    extends KernelExpr(GeomKernels, "centroidRef", pointStruct, BinaryType) {
  override def children: Seq[Expression] = Seq(geo)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

// ---------------------------------------------------------------------------
// MVT tiles
// ---------------------------------------------------------------------------

/** project geometry into tile pixel space (reference mvt/prepare.go). */
case class StPrepareTile(geo: Expression, cell: Expression)
    extends KernelExpr(WkbKernels, "prepareTile", BinaryType, BinaryType, LongType) {
  override def children: Seq[Expression] = Seq(geo, cell)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** PrepareGeo against an explicit native-unit tile extent (reference
  * mvt/prepare.go:13-78, the cmd/main.go:229 call shape) — unlike
  * StPrepareTile this takes the extent in meters/degrees directly, as the
  * 3857 pipeline needs.
  */
case class StPrepareExtent(geo: Expression, minx: Expression, miny: Expression,
                           maxx: Expression, maxy: Expression)
    extends KernelExpr(GeomKernels, "prepareExtent", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(geo, minx, miny, maxx, maxy)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** MVT command stream of a tile-space geometry (reference mvt/feature.go):
  * struct(commands array<long> of uint32 values, geom_type int).
  */
case class StMvtGeometry(geo: Expression)
    extends KernelExpr(GeomKernels, "mvtGeometry", mvtStruct, BinaryType) {
  override def children: Seq[Expression] = Seq(geo)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** The FUSED cmd/main.go tile pipeline (cmd/main.go:110-280) as one scalar
  * kernel: tile extent → 1-px clipRegion → DP simplify at the pixel span →
  * makevalid → PrepareGeo(4096px) → MVT command stream, with ONE WKB
  * decode and ZERO intermediate encodes. Bit-identical to the five-stage
  * expression chain (WKB round-trips are exact), but ~10× less allocation
  * churn per row — the chain spends most of its time re-encoding and
  * re-decoding WKB between its stages, which is also the part that scales
  * worst across threads (allocator pressure).
  * Returns struct(commands array<long>, geom_type int); null on null/
  * unparseable input or irreparable geometry, exactly like the chain.
  */
case class StMvtPipeline(geo: Expression, z: Expression, x: Expression, y: Expression)
    extends KernelExpr(GeomKernels, "mvtPipeline", mvtStruct,
      BinaryType, IntegerType, LongType, LongType) {
  override def children: Seq[Expression] = Seq(geo, z, x, y)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

// ---------------------------------------------------------------------------
// scalar planar math (pure doubles — these stay exact across engines)
// ---------------------------------------------------------------------------

/** perpendicular distance of (px,py) to the infinite line (x1,y1)-(x2,y2). */
case class StPerpendicularDistance(a: Expression, b: Expression, c: Expression,
                                   d: Expression, e: Expression, f: Expression)
    extends KernelExpr(GeomKernels, "perpendicularDistance", DoubleType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(a, b, c, d, e, f)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4), cs(5))
}

/** clamped distance of (px,py) to the segment (x1,y1)-(x2,y2). */
case class StDistanceToSegment(a: Expression, b: Expression, c: Expression,
                               d: Expression, e: Expression, f: Expression)
    extends KernelExpr(GeomKernels, "distanceToSegment", DoubleType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(a, b, c, d, e, f)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4), cs(5))
}

/** segment × segment intersection (reference line_intersect.go:141-178). */
case class StSegIntersect(a: Expression, b: Expression, c: Expression, d: Expression,
                          e: Expression, f: Expression, g: Expression, h: Expression)
    extends KernelExpr(GeomKernels, "segIntersect", intersectStruct, DoubleType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(a, b, c, d, e, f, g, h)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4), cs(5), cs(6), cs(7))
}

/** orientation of 3 points (reference winding.go Orientation, y-up). */
case class StOrient(a: Expression, b: Expression, c: Expression,
                    d: Expression, e: Expression, f: Expression)
    extends KernelExpr(GeomKernels, "orient", IntegerType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(a, b, c, d, e, f)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4), cs(5))
}
