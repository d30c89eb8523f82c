package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

class LayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("mortonKey: matches the scalar reference bit-for-bit, orders locally") {
    def gridRef(v: Double, lo: Double, span: Double): Long =
      math.min(65535L, math.max(0L, math.floor((v + lo) / span * 65536.0).toLong))
    def spreadRef(v0: Long): Long = {
      var x = v0
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      (x | (x << 1)) & 0x5555555555555555L
    }
    def ref(lon: Double, lat: Double): Long =
      spreadRef(gridRef(lon, 180.0, 360.0)) | (spreadRef(gridRef(lat, 90.0, 180.0)) << 1)

    import spark.implicits._
    val cases = Seq((-180.0, -90.0), (179.999, 89.999), (0.0, 0.0),
      (-0.001, -0.001), (12.34, -56.78), (200.0, 100.0), (-200.0, -100.0))
    val got = cases.toDF("lon", "lat")
      .select(col("lon"), col("lat"), Layout.mortonKey(col("lon"), col("lat")).as("z"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    for ((lon, lat) <- cases)
      assert(got((lon, lat)) == ref(lon, lat), s"($lon,$lat)")
    // corner keys: SW corner all-zero, NE corner all 32 bits set
    assert(ref(-180.0, -90.0) == 0L && ref(179.999, 89.999) == 0xFFFFFFFFL)
  }
}
