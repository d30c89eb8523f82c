package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic geometry derived from the driver's TPC-H-ish
  * parquet tables (TESTDATA.md). All derivations are pure integer/double
  * arithmetic so the DuckDB oracle can reproduce them bit-for-bit; the SQL
  * fragments below mirror the Spark expressions operation-for-operation.
  *
  * Point lattice: lon spacing 360/100000 = 0.0036°, lat spacing 0.0017° —
  * coarse enough that no generated point falls inside the reference
  * comparator's ULP tolerance zone (~1.3e-4 at |coord|≈100) of any region
  * edge except exactly ON an edge, where hitmap border-inclusion and the
  * closed-box oracle agree.
  */
object Synth {

  // ---- points from lineitem ----

  def points(spark: SparkSession, dir: String): DataFrame = {
    val li = TestTables.read(spark, dir, "lineitem")
    li.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("pid"),
      (lit(-180.0) + lit(360.0) *
        (((col("l_orderkey") * 48271 + col("l_linenumber") * 1117) % 100000) / lit(100000.0)))
        .as("lon"),
      (lit(-85.0) + lit(170.0) *
        (((col("l_orderkey") * 16807 + col("l_linenumber") * 2003) % 100000) / lit(100000.0)))
        .as("lat"),
      (lit(-180.0) + lit(360.0) *
        (((col("l_orderkey") * 69621 + col("l_linenumber") * 3023) % 100000) / lit(100000.0)))
        .as("lon2"),
      (lit(-85.0) + lit(170.0) *
        (((col("l_orderkey") * 40692 + col("l_linenumber") * 1511) % 100000) / lit(100000.0)))
        .as("lat2"),
      col("l_suppkey"))
  }

  /** DuckDB CTE mirroring `points`. */
  val pointsCte: String =
    """pts AS (SELECT l_orderkey * 10 + l_linenumber AS pid,
      | -180.0 + 360.0 * (((l_orderkey * 48271 + l_linenumber * 1117) % 100000) / 100000.0) AS lon,
      | -85.0 + 170.0 * (((l_orderkey * 16807 + l_linenumber * 2003) % 100000) / 100000.0) AS lat,
      | -180.0 + 360.0 * (((l_orderkey * 69621 + l_linenumber * 3023) % 100000) / 100000.0) AS lon2,
      | -85.0 + 170.0 * (((l_orderkey * 40692 + l_linenumber * 1511) % 100000) / 100000.0) AS lat2,
      | l_suppkey FROM lineitem)""".stripMargin.replace("\n", "")

  // ---- rectangular regions from nation ----

  def regions(spark: SparkSession, dir: String): DataFrame = {
    val n = TestTables.read(spark, dir, "nation")
    n.select(
      col("n_nationkey").cast("long").as("region_id"),
      (lit(-180.0) + lit(14.0) * col("n_nationkey")).as("minx"),
      (lit(-80.0) + lit(6.5) * col("n_nationkey")).as("miny"))
      .withColumn("maxx", col("minx") + lit(8.0))
      .withColumn("maxy", col("miny") + lit(7.0))
  }

  val regionsCte: String =
    """regions AS (SELECT CAST(n_nationkey AS BIGINT) AS region_id,
      | -180.0 + 14.0 * n_nationkey AS minx, -80.0 + 6.5 * n_nationkey AS miny,
      | (-180.0 + 14.0 * n_nationkey) + 8.0 AS maxx, (-80.0 + 6.5 * n_nationkey) + 7.0 AS maxy
      | FROM nation)""".stripMargin.replace("\n", "")

  // ---- slippy tile math as DuckDB SQL (mirrors graft.core.Slippy exactly) ----

  /** lon2Num (reference slippy/maths.go:100-135) over column expr `lon`. */
  def lon2TileSql(lon: String, z: Int): String = {
    val n = 1L << z
    val ws = 256.0 * n
    s"(CASE WHEN ($lon) <= -180 THEN 0 WHEN ($lon) >= 180 THEN ${n - 1} " +
      s"ELSE CAST(trunc((((180 + ($lon)) / 360) * $ws + 0.000001) / 256.0) AS BIGINT) END)"
  }

  /** lat2Num (reference slippy/maths.go:19-94) over column expr `lat`. */
  def lat2TileSql(lat: String, z: Int): String = {
    val n = 1L << z
    val ws = 256.0 * n
    s"(CASE WHEN ($lat) < -85.05112 THEN ${n - 1} WHEN ($lat) > 85.05112 THEN 0 " +
      s"ELSE CAST(trunc((((180 - ((ln(tan(((45 + ($lat) / 2) * pi()) / 180)) * 180) / pi())) / 360) " +
      s"* $ws + 0.000001) / 256.0) AS BIGINT) END)"
  }
}
