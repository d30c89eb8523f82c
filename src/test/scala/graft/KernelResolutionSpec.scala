package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Geom, Slippy, Wkb, Wkt}
import graft.functions.GeomFunctions

/** Every SQL function reaches its kernel on both evaluation paths.
  *
  * Spark's StaticInvoke finds a kernel by name and argument classes when
  * the first row reaches it, so a misspelt kernel or a wrong parameter type
  * compiles and fails only at run time. Each registry entry is called here
  * through SQL on one valid row and one null/garbage row, once with
  * generated code only and once fully interpreted, and both must agree.
  */
class KernelResolutionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def wkb(wkt: String): Array[Byte] = Wkb.encode(Wkt.decode(wkt))
  private val cell = Slippy.cellAt(10, 1.0, 1.0)
  private val tile: Geom.Extent = Slippy.tileExtent3857(9, 350, 200)
  private val (cx, cy, d) =
    ((tile.minx + tile.maxx) / 2, (tile.miny + tile.maxy) / 2, (tile.maxx - tile.minx) / 8)

  /** row 0 holds valid arguments; row 1 holds garbage WKB/text or NULL. */
  private def args(): org.apache.spark.sql.DataFrame = {
    def v(valid: Any, bad: Any = null): Column =
      when(col("id") === 0, lit(valid)).otherwise(lit(bad))
    spark.range(2).select(col("id"),
      v("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "garbage").as("wkt"),
      v("""{"type":"Point","coordinates":[1,2]}""", "garbage").as("json"),
      v(wkb("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"), Array[Byte](1, 2)).as("geo"),
      v(wkb("LINESTRING (0 0, 2 2, 4 0)"), Array[Byte](1, 2)).as("line"),
      v(wkb("POINT (1 2)"), Array[Byte](1, 2)).as("pt"),
      v(wkb(s"POLYGON (($cx $cy, ${cx + d} $cy, ${cx + d} ${cy + d}, $cx ${cy + d}, $cx $cy))"),
        Array[Byte](1, 2)).as("tgeo"),
      v(1.0).as("x"), v(1.0).as("y"), v(3.0).as("x2"), v(3.0).as("y2"), v(0.5).as("tol"),
      v(true).as("b"), v(10).as("z"), v(11).as("zs"), v(4).as("k"), v(9).as("mz"),
      v(cell).as("cell"), v(512L).as("tx"), v(350L).as("mtx"), v(200L).as("mty"),
      v(Array(3, 5)).as("levels"), v(5000000.0).as("northing"), v(500000.0).as("easting"),
      v(31).as("zn"), v("U").as("zl"), v("the quick brown fox jumps over").as("text"))
  }

  /** the arguments of each registry entry, by SQL name. */
  private val calls: Map[String, String] = Map(
    "st_geomfromwkt" -> "wkt", "st_aswkt" -> "geo", "st_point" -> "x, y",
    "st_box_polygon" -> "x, y, x2, y2", "st_x" -> "pt", "st_y" -> "pt",
    "st_geomtype" -> "geo", "st_envelope" -> "geo", "st_dump_points" -> "geo",
    "st_segments" -> "geo", "st_num_points" -> "geo",
    "st_contains" -> "geo, x, y", "st_ring_contains" -> "geo, x, y, b",
    "st_cell_at" -> "x, y, z", "st_lon2tile" -> "x, z", "st_lat2tile" -> "y, z",
    "st_tile2lon" -> "z, tx", "st_tile2lat" -> "z, tx",
    "st_cell_z" -> "cell", "st_cell_x" -> "cell", "st_cell_y" -> "cell",
    "st_family_at" -> "cell, zs", "st_tiles_for_bounds" -> "x, y, x2, y2, zs",
    "st_tiles_for_bounds_3857" -> "x, y, x2, y2, zs", "st_tile_envelope" -> "cell",
    "st_cover_zoom" -> "x, y, x2, y2, z, k", "st_cover_at_levels" -> "x, y, x2, y2, levels",
    "st_simplify" -> "line, tol", "st_clip" -> "line, x, y, x2, y2",
    "st_winding" -> "geo", "st_rectify_polygon" -> "geo", "st_centroid_ref" -> "geo",
    "st_perpendicular_distance" -> "x, y, x2, y2, x, y2",
    "st_distance_to_segment" -> "x, y, x2, y2, x, y2",
    "st_seg_intersect" -> "x, y, x2, y2, x, y2, x2, y", "st_orient" -> "x, y, x2, y2, x, y2",
    "st_makevalid" -> "geo, x, y, x2, y2", "st_prepare_tile" -> "geo, cell",
    "st_tile_extent_3857" -> "mz, mtx, mty", "st_prepare_extent" -> "geo, x, y, x2, y2",
    "st_mvt_geometry" -> "geo", "st_mvt_pipeline" -> "tgeo, mz, mtx, mty",
    "st_asgeojson" -> "geo", "st_geomfromgeojson" -> "json",
    "st_utm_from_lnglat" -> "x, y", "st_lnglat_from_utm" -> "northing, easting, zn, zl",
    "st_project" -> "x, y, 3857", "st_project_inv" -> "x, y, 3857",
    "st_transform" -> "geo, 4326, 3857",
    "doc_fingerprint" -> "text", "minhash" -> "text, k", "simhash" -> "text",
    "shingle_hashes" -> "text", "hamming" -> "cell, tx")

  /** (valid-row result, null/garbage-row result) of every function. */
  private def runAll(conf: Seq[(String, String)]): Map[String, Seq[Any]] = {
    conf.foreach { case (k, value) => spark.conf.set(k, value) }
    try {
      GeomFunctions.register(spark)
      args().createOrReplaceTempView("kernel_args")
      calls.map { case (fn, as) =>
        fn -> spark.sql(s"SELECT $fn($as) FROM kernel_args ORDER BY id")
          .collect().toSeq.map(_.get(0))
      }
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("every registry entry resolves its kernel, generated and interpreted alike") {
    assert(calls.keySet == GeomFunctions.registry.map(_._1).toSet)
    val generated = runAll(Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    val interpreted = runAll(Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))
    for (fn <- calls.keys.toSeq.sorted) {
      val Seq(valid, bad) = generated(fn)
      assert(valid != null, s"$fn: NULL on its valid row")
      assert(bad == null, s"$fn: $bad on its null/garbage row")
      assert(Row(generated(fn): _*) == Row(interpreted(fn): _*),
        s"$fn: generated ${generated(fn)} vs interpreted ${interpreted(fn)}")
    }
  }

  test("a call is printed and named by its SQL name, not by its table row") {
    GeomFunctions.register(spark)
    spark.range(1).selectExpr("1.0D AS x", "2.0D AS y", "15 AS z", "st_point(1.0D, 2.0D) AS geo")
      .createOrReplaceTempView("named_args")
    val df = spark.sql(
      "SELECT st_cell_at(x, y, z), st_x(geo), st_project(x, y, 3857) FROM named_args")
    assert(df.columns.toSeq == Seq("st_cell_at(x, y, z)", "st_x(geo)", "st_project(x, y, 3857)"))
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("st_cell_at(x#") && analyzed.contains("st_x(geo#"), analyzed)
    for (rowText <- Seq("KernelSig", "GeomKernels", "cellAt", "pointX", "DoubleType"))
      assert(!analyzed.contains(rowText), s"analyzed plan prints a table row: $analyzed")
  }

  test("a wrong argument count or a column SRID fails at analysis, naming the function") {
    GeomFunctions.register(spark)
    spark.range(2).selectExpr("id", "CAST(3857 AS INT) AS srid").createOrReplaceTempView("srids")
    def analysisError(sql: String): String =
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect()).getMessage
    for (sql <- Seq("SELECT st_point(1.0)", "SELECT st_point(1.0, 2.0, 3.0)")) {
      val msg = analysisError(sql)
      assert(msg.contains("WRONG_NUM_ARGS") && msg.contains("`st_point` requires 2 parameters"),
        s"$sql: $msg")
    }
    for ((fn, sql) <- Seq(
        "st_project" -> "SELECT st_project(1.0D, 2.0D, srid) FROM srids",
        "st_project_inv" -> "SELECT st_project_inv(1.0D, 2.0D, srid) FROM srids",
        "st_transform" -> "SELECT st_transform(st_point(1.0D, 2.0D), 4326, srid) FROM srids",
        "st_project" -> "SELECT st_project(1.0D, 2.0D, 3857.5)")) {
      val msg = analysisError(sql)
      assert(msg.contains("NON_FOLDABLE_ARGUMENT") && msg.contains(s"`$fn`"), s"$sql: $msg")
    }
  }
}
