package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Utm
import GeomKernels.{row, utf8}

/** UTM projection kernels (WGS84). Null outside the C..X latitude bands
  * and for invalid zones, like the reference's errors.
  */
object UtmKernels {
  private val wgs84 = Utm.WGS84.copy(natoCompatible = false)

  val utmStruct: StructType = StructType(Seq(
    StructField("northing", DoubleType, false), StructField("easting", DoubleType, false),
    StructField("zone_number", IntegerType, false), StructField("zone_letter", StringType, false)))
  val lngLatStruct: StructType =
    StructType(Seq(StructField("lng", DoubleType, false), StructField("lat", DoubleType, false)))

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
