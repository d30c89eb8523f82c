package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.KernelExpr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Utm
import GeomKernels.{row, utf8}

object UtmKernels {
  private val wgs84 = Utm.WGS84.copy(natoCompatible = false)

  def fromLngLat(lng: Double, lat: Double): InternalRow =
    Utm.fromLngLat(lng, lat, wgs84) match {
      case Some(c) =>
        row(c.northing, c.easting, c.zone.number, utf8(c.zone.letter.toString))
      case None => null
    }

  def toLngLat(northing: Double, easting: Double, zoneNumber: Int,
               zoneLetter: UTF8String): InternalRow = {
    val letter = zoneLetter.toString
    if (letter.length != 1) return null
    val zone = Utm.Zone(zoneNumber, letter.charAt(0))
    Utm.toLngLat(Utm.Coord(northing, easting, zone)) match {
      case Some((lng, lat)) => row(lng, lat)
      case None             => null
    }
  }
}

/** UTM forward projection as a scalar expression (WGS84):
  * (lng, lat) → struct(northing, easting, zone_number, zone_letter).
  * Null outside the C..X latitude bands (like the reference's error).
  */
case class StUtmFromLngLat(lng: Expression, lat: Expression)
    extends KernelExpr(UtmKernels, "fromLngLat", StructType(Seq(
      StructField("northing", DoubleType, false),
      StructField("easting", DoubleType, false),
      StructField("zone_number", IntegerType, false),
      StructField("zone_letter", StringType, false))), DoubleType, DoubleType) {
  override def children: Seq[Expression] = Seq(lng, lat)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1))
}

/** UTM inverse projection as a scalar expression (WGS84):
  * (northing, easting, zone_number, zone_letter) → struct(lng, lat).
  * Null for invalid zones — mirrors Utm.toLngLat (reference utm.go
  * ToLngLat with the d6·720 quirk preserved).
  */
case class StLngLatFromUtm(northing: Expression, easting: Expression,
                           zoneNumber: Expression, zoneLetter: Expression)
    extends KernelExpr(UtmKernels, "toLngLat", StructType(Seq(
      StructField("lng", DoubleType, false),
      StructField("lat", DoubleType, false))), DoubleType, DoubleType, IntegerType, StringType) {
  override def children: Seq[Expression] = Seq(northing, easting, zoneNumber, zoneLetter)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}
