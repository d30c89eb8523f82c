package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeomFunctions._
import graft.sources.{DocsTable, TestTables}

/** The sources under every query frame: the declared test-table schemas
  * (no inference job while a frame is built) and the docs span
  * extraction.
  */
class SourcesSpec extends AnyFunSuite with KnnFixtures {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("each declared table schema is the schema Spark infers from the files") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         (name, declared) <- TestTables.schemas) {
      val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
      assert(declared == inferred, s"$sf $name")
      assert(TestTables.read(spark, sf, name).schema == inferred, s"$sf $name read")
    }
  }

  test("building a query frame runs no Spark job") {
    val names = Seq("q03_pip_join", "q12_knn", "q21_knn_cell", "q22_tiler_assign", "q29_makevalid",
      "q33_pipeline", "q35_simplify_dp", "q37_clip_line", "q43_mvt_tile_bytes",
      "q45_mvt_typed_tags", "q53_pip_join_bigbig", "q55_extent_join")
    val jobs = names.map(n => n -> jobsDuring(SparkEntry.queries(n)(spark, dir))._2)
    assert(jobs.forall(_._2 == 0), jobs.filter(_._2 != 0).mkString(", "))
  }

  private val spanType = ArrayType(StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType))))

  test("extractGeometries drops docs whose spans are null, empty or hold no WKT") {
    val docs = spark.createDataFrame(java.util.Arrays.asList(
      Row("null", null),
      Row("empty", Seq.empty),
      Row("text-only", Seq(Row("text", "hello", "", 0), Row("media", "", "media://tile/1/0/0#1", 2))),
      Row("bad-wkt", Seq(Row("wkt", "POINT (", "", 1))),
      Row("one-point", Seq(Row("text", "x", "", 0), Row("wkt", "POINT (1 2)", "", 1)))),
      StructType(Seq(StructField("doc_id", StringType), StructField("spans", spanType))))
    val rows = DocsTable.extractGeometries(docs)
      .select(col("doc_id"), col("span_offset"), st_x(col("geom")), st_y(col("geom")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(("one-point", 1, 1.0, 2.0)))
  }

  test("extractGeometries returns the rows of the explode form on the sf0.001 docs") {
    val docs = DocsTable.docs(spark, dir)
    val viaExplode = docs.select(col("doc_id"), explode(col("spans")).as("span"))
      .filter(col("span.kind") === "wkt")
      .select(col("doc_id"), col("span.offset").as("span_offset"),
        st_geomfromwkt(col("span.text")).as("geom"))
      .filter(col("geom").isNotNull)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Int, Seq[Byte])] =
      df.select(col("doc_id"), col("span_offset"), col("geom")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSeq
        .sortBy(r => (r._1, r._2))
    val want = rowsOf(viaExplode)
    assert(want.nonEmpty)
    assert(rowsOf(DocsTable.extractGeometries(docs)) == want)
  }
}
