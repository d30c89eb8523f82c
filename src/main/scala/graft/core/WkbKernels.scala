package graft.core

import org.apache.spark.unsafe.types.UTF8String
import graft.core.Geom._

/** Static scalar kernels over WKB for whole-stage-codegen'd expressions
  * (called from generated Java via GeomExprStaticRef). A null return
  * signals SQL NULL (parse failure / unsupported geometry type).
  *
  * Per-thread LRU caches replace the old per-expression `stateful` caches:
  * generated code calls a static, so the decoded-geometry reuse lives here,
  * keyed by the WKB bytes. ThreadLocal = one cache per task thread, no
  * synchronization on the hot path.
  */
object WkbKernels {

  private final val CacheSize = 256

  private val hitmaps =
    new ThreadLocal[java.util.LinkedHashMap[java.nio.ByteBuffer, AnyRef]] {
      override def initialValue() =
        new java.util.LinkedHashMap[java.nio.ByteBuffer, AnyRef](64, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[java.nio.ByteBuffer, AnyRef]): Boolean =
            size() > CacheSize
        }
    }

  private val NotPolygonal = new Object // cached negative result

  private def geomOrNull(bytes: Array[Byte]): Geometry =
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

  /** st_geomfromwkt: WKT text → WKB; null on parse failure. */
  def fromWkt(text: UTF8String): Array[Byte] =
    try Wkb.encode(Wkt.decode(text.toString))
    catch { case _: Exception => null }

  /** st_prepare_tile: PrepareGeo into the packed cell's 4326 extent. */
  def prepareTile(geo: Array[Byte], cell: Long): Array[Byte] = {
    val g = geomOrNull(geo)
    if (g == null) return null
    val ext = Slippy.tileExtent4326(Slippy.unpackZ(cell),
      Slippy.unpackX(cell).toInt, Slippy.unpackY(cell).toInt)
    Wkb.encode(Mvt.prepareGeo(g, ext))
  }
}
