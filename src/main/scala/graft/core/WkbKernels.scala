package graft.core

import org.apache.spark.unsafe.types.UTF8String
import graft.core.Geom._

/** Scalar kernels over WKB behind the `st_*` expressions (called through
  * Spark's StaticInvoke, see org.apache.spark.sql.graft.KernelExpr). A null
  * return signals SQL NULL (parse failure / unsupported geometry type).
  *
  * The predicates keep their decoded geometry in per-thread LRU caches keyed
  * by the WKB bytes: a join against a broadcast polygon side hits the cache
  * nearly always instead of re-parsing WKB per row. ThreadLocal = one cache
  * per task thread, no synchronization on the hot path.
  */
object WkbKernels {

  private final val CacheSize = 256

  private def perThreadCache() =
    new ThreadLocal[java.util.LinkedHashMap[java.nio.ByteBuffer, AnyRef]] {
      override def initialValue() =
        new java.util.LinkedHashMap[java.nio.ByteBuffer, AnyRef](64, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[java.nio.ByteBuffer, AnyRef]): Boolean =
            size() > CacheSize
        }
    }

  private val hitmaps = perThreadCache()
  private val rings = perThreadCache()

  private val NotPolygonal = new Object // cached negative result

  /** parse WKB, or null on garbage. */
  def geomOrNull(bytes: Array[Byte]): Geometry =
    try Wkb.decode(bytes) catch { case _: Exception => null }

  /** st_contains: point-in-polygon via the reference hitmap; null for
    * non-polygonal input (reference hitmap.New semantics).
    */
  def contains(geo: Array[Byte], x: Double, y: Double): java.lang.Boolean = {
    val cache = hitmaps.get()
    val key = java.nio.ByteBuffer.wrap(geo)
    var hm = cache.get(key)
    if (hm == null) {
      hm = geomOrNull(geo) match {
        case GPolygon(rs)      => PolygonHitmap.ofPolygon(rs)
        case GMultiPolygon(mp) => PolygonHitmap(mp)
        case _                 => NotPolygonal
      }
      cache.put(key, hm)
    }
    hm match {
      case p: PolygonHitmap => java.lang.Boolean.valueOf(p.labelInsideXY(x, y))
      case _                => null
    }
  }

  /** st_ring_contains: ray-cast containment in the primary ring (polygon
    * exterior, linestring, first polygon of a multipolygon) with the border
    * inclusive or not; null when there is no ring of ≥ 3 points.
    */
  def ringContains(geo: Array[Byte], x: Double, y: Double,
                   includeBorder: Boolean): java.lang.Boolean = {
    val cache = rings.get()
    val key = java.nio.ByteBuffer.wrap(geo)
    var rs = cache.get(key)
    if (rs == null) {
      val ring = geomOrNull(geo) match {
        case GPolygon(r) if r.nonEmpty && r.head.length >= 3      => r.head
        case GLineString(ps) if ps.length >= 3                    => ps
        case GMultiPolygon(mp) if mp.nonEmpty && mp.head.nonEmpty => mp.head.head
        case _                                                    => null
      }
      rs = if (ring == null) NotPolygonal
           else (Ring.fromPoints(ring, includeBorder = true),
                 Ring.fromPoints(ring, includeBorder = false))
      cache.put(key, rs)
    }
    rs match {
      case (in: Ring, ex: Ring) =>
        java.lang.Boolean.valueOf((if (includeBorder) in else ex).containsPoint((x, y)))
      case _ => null
    }
  }

  /** st_geomfromwkt: WKT text → WKB; null on parse failure. */
  def fromWkt(text: UTF8String): Array[Byte] =
    try Wkb.encode(Wkt.decode(text.toString))
    catch { case _: Exception => null }

  /** st_prepare_tile: PrepareGeo into the packed cell's 4326 extent. */
  def prepareTile(geo: Array[Byte], cell: Long): Array[Byte] = {
    val g = geomOrNull(geo)
    if (g == null) return null
    val ext = TileGrid.Wgs84.extent(Slippy.unpackZ(cell),
      Slippy.unpackX(cell).toInt, Slippy.unpackY(cell).toInt)
    Wkb.encode(Mvt.prepareGeo(g, ext))
  }
}
