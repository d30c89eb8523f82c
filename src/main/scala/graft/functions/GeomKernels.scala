package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.core.Geom._
import graft.core.WkbKernels.geomOrNull

/** The geometry, tile and planar kernels of GeomFunctions' table, one
  * method each (see KernelSig for the calling convention). Kernels that
  * are plain `Slippy` or `WkbKernels` methods are called there directly.
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

  def cellAt(lon: Double, lat: Double, z: Int): Long = Slippy.cellAt(z, lon, lat)
  def lon2Tile(lon: Double, z: Int): Long = Slippy.lon2Num(z, lon).toLong
  def lat2Tile(lat: Double, z: Int): Long = Slippy.lat2Num(z, lat).toLong
  def tile2Lon(z: Int, x: Long): Double = Slippy.x2deg(z, x.toInt)
  def tile2Lat(z: Int, y: Long): Double = Slippy.y2deg(z, y.toInt)

  def familyAt(cell: Long, zoom: Int): ArrayData = longs(Slippy.familyAt(cell, zoom))

  def tilesForBounds(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                     z: Int): ArrayData =
    longs(Slippy.fromBounds(z, minLon, minLat, maxLon, maxLat))

  def coverZoom(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                zmax: Int, cap: Int): Int =
    Slippy.coverZoomFor(zmax, cap, minLon, minLat, maxLon, maxLat)

  def tilesForBounds3857(minX: Double, minY: Double, maxX: Double, maxY: Double,
                         z: Int): ArrayData =
    longs(TileGrid.WebMercator.fromBounds(z, minX, minY, maxX, maxY))

  def coverAtLevels(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                    levels: ArrayData): ArrayData =
    longs(Slippy.coverAtLevels(levels.toIntArray().toIndexedSeq,
      minLon, minLat, maxLon, maxLat))

  def tileEnvelope(cell: Long): InternalRow =
    envRow(TileGrid.Wgs84.extent(Slippy.unpackZ(cell), Slippy.unpackX(cell).toInt,
      Slippy.unpackY(cell).toInt))

  def tileExtent3857(z: Int, x: Long, y: Long): InternalRow = {
    Slippy.checkTile(z, x, y)
    envRow(TileGrid.WebMercator.extent(z, x.toInt, y.toInt))
  }

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
    val ext = TileGrid.WebMercator.extent(z, x.toInt, y.toInt)
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
