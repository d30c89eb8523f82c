package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeomFunctions._

/** Synthesizes the BASELINE.json `input_hint` table shape —
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)` —
  * deterministically from the driver's lineitem parquet (seeded by row keys,
  * no external data). Interleaves text, WKT-vector and media spans; 1% of
  * docs carry polygon spans and 0.5% carry invalid bow-tie polygons for the
  * makevalid path (FIXTURES.md §1).
  *
  * Generation is pure column expressions over the scan, so it distributes:
  * at 10^12 docs this is a parallel scan, not a driver loop.
  */
object DocsTable {

  def docs(spark: SparkSession, dir: String): DataFrame = {
    // spread BEFORE the span generation (round 7, measured): spreading the
    // finished docs frame shuffled 52 MB of generated span strings from a
    // 3-task stage; spreading the narrow point columns first runs the
    // string generation (and everything downstream — explode, parse,
    // makevalid) at kernel width and ships ~5x fewer bytes. No-op when the
    // backing scan already has >= cores splits. A filter on `spans` undoes
    // this: Catalyst pushes it through the round-robin exchange, and the
    // scan stage then builds the spans for it (see extractGeometries).
    val p = graft.operators.Spread.forKernels(
      Synth.points(spark, dir).select(col("pid"), col("lon"), col("lat")))
    val textSpan = struct(
      lit("text").as("kind"),
      concat(lit("filler text for doc "), col("pid")).as("text"),
      lit("").as("media_ref"),
      lit(0).as("offset"))
    val wktSpan = struct(
      lit("wkt").as("kind"),
      concat(lit("POINT ("), col("lon").cast("string"), lit(" "),
        col("lat").cast("string"), lit(")")).as("text"),
      lit("").as("media_ref"),
      lit(1).as("offset"))
    val mediaSpan = struct(
      lit("media").as("kind"),
      lit("").as("text"),
      concat(lit("media://tile/15/"), st_lon2tile(col("lon"), lit(15)), lit("/"),
        st_lat2tile(col("lat"), lit(15)), lit("#"), col("pid")).as("media_ref"),
      lit(2).as("offset"))
    // 1%: valid box polygon; 0.5%: invalid bow-tie (self-intersecting)
    val polySpan = struct(
      lit("wkt").as("kind"),
      when(col("pid") % 194 === 0,
        concat(lit("POLYGON (("),
          col("lon").cast("string"), lit(" "), col("lat").cast("string"), lit(","),
          (col("lon") + 2).cast("string"), lit(" "), (col("lat") + 2).cast("string"), lit(","),
          (col("lon") + 2).cast("string"), lit(" "), col("lat").cast("string"), lit(","),
          col("lon").cast("string"), lit(" "), (col("lat") + 2).cast("string"), lit(","),
          col("lon").cast("string"), lit(" "), col("lat").cast("string"), lit("))")))
        .otherwise(st_aswkt(st_box_polygon(
          col("lon") - 1, col("lat") - 1, col("lon") + 1, col("lat") + 1)))
        .as("text"),
      lit("").as("media_ref"),
      lit(3).as("offset"))

    p.select(
      concat(lit("doc-"), lpad(col("pid").cast("string"), 12, "0")).as("doc_id"),
      when(col("pid") % 97 === 0, array(textSpan, wktSpan, mediaSpan, polySpan))
        .otherwise(array(textSpan, wktSpan, mediaSpan)).as("spans"))
  }

  /** Vector extraction: explode spans, keep WKT ones, parse to geometry.
    * Returns (doc_id, span_offset, geom_wkb, lon, lat for points).
    */
  def extractGeometries(docs: DataFrame): DataFrame = {
    // the WKT parse (and everything downstream of it — tile covers, the
    // makevalid kernel) runs at this frame's partitioning; spread it when
    // the backing scan has fewer splits than cores (no-op at scale).
    // explode_outer, not explode: from explode(spans) Catalyst infers
    // `size(spans) > 0 AND isnotnull(spans)` (InferFiltersFromGenerate) and
    // pushes it through the alias and the spread's round-robin exchange to
    // the scan, so every span string was built twice — once on the 1-task
    // scan stage for the filter, once after the spread. Nothing is inferred
    // from explode_outer; its null row for a null or empty `spans` fails
    // the kind filter below, so the rows are the same.
    graft.operators.Spread.forKernels(docs)
      .select(col("doc_id"), explode_outer(col("spans")).as("span"))
      .filter(col("span.kind") === "wkt")
      .select(
        col("doc_id"),
        col("span.offset").as("span_offset"),
        st_geomfromwkt(col("span.text")).as("geom"))
      .filter(col("geom").isNotNull)
  }
}
