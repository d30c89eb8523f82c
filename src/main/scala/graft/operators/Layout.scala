package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial-locality data layout: Z-order (Morton) clustering of a point
  * corpus so that box-filter scans SKIP most of the data via parquet
  * row-group / file statistics — the storage-side lever that, at 100 TB,
  * turns "read everything, filter later" into "read the files whose
  * lon/lat min/max intersect the box". A corpus laid out in arrival order
  * has every file spanning the whole world (min/max cover everything, no
  * file is skippable); sorted by the interleaved Morton key, lon AND lat
  * are simultaneously clustered, so every file's footer stats bound a
  * small rectangle and predicate pushdown prunes the rest unread.
  *
  * Same family as Iceberg's Z-ORDER table clustering and the slippy
  * packed cell id (which is (z, x, y)-major — row-major within a zoom,
  * clustering lon but striping lat); the bit-interleaved key clusters
  * both axes equally at every scale.
  */
object Layout {

  /** 16-bit-per-axis Morton key of (lon, lat) — 32-bit interleaved int64,
    * every step integer-exact and reproducible in any engine with int64
    * shifts (the DuckDB oracle runs the identical expression). The grid
    * coordinate is floor((v − lo) / span · 2¹⁶) clamped to [0, 65535];
    * the float product is correctly-rounded IEEE-754 in the pinned
    * order (add, divide, multiply), so the key is bit-stable.
    */
  def mortonKey(lon: Column, lat: Column): Column = {
    def grid(v: Column, lo: Double, span: Double): Column =
      least(lit(65535L), greatest(lit(0L),
        floor((v + lit(lo)) / lit(span) * lit(65536.0)).cast("long")))
    def spread(v: Column): Column = {
      val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x3333333333333333L))
      c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(grid(lon, 180.0, 360.0))
      .bitwiseOR(shiftleft(spread(grid(lat, 90.0, 180.0)), 1))
  }
}
