package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeomFunctions._

/** The reference's end-to-end tile pipeline (cmd/main.go:110-280) as one
  * composed, distributed transformation:
  *
  *   1. tile extent in web-mercator meters (slippy 3857 grid);
  *   2. clipRegion = extent expanded by ONE pixel's native span
  *      (`PixelToNative`, cmd/main.go:102-108);
  *   3. Douglas-Peucker simplify at the same 1-pixel tolerance
  *      (cmd/main.go:166-184);
  *   4. makevalid against the clipRegion (cmd/main.go:186-212);
  *   5. PrepareGeo into the UNexpanded tile extent at 4096px
  *      (cmd/main.go:229);
  *   6. MVT command-stream encode (mvt/feature.go).
  *
  * Every stage is a codegen-compatible scalar kernel over WKB, so the whole
  * pipeline is map-only — no shuffle, embarrassingly parallel at any scale;
  * tiles with many features parallelize by row, not by tile.
  */
object TilePipeline {

  /** df must carry (geomCol: wkb binary, zCol: int, xCol: long, yCol: long).
    * Adds: mvt_commands (array<long>), mvt_type (int).
    *
    * Uses the FUSED st_mvt_pipeline kernel: one WKB decode, zero
    * intermediate encodes. OperatorsSpec keeps the five-stage expression
    * chain as its parity reference and asserts the two are bit-identical.
    */
  def mvtCommands(df: DataFrame, geomCol: String,
                  zCol: String, xCol: String, yCol: String): DataFrame = {
    df.withColumn("mvt",
        st_mvt_pipeline(col(geomCol), col(zCol), col(xCol), col(yCol)))
      .withColumn("mvt_commands", col("mvt.commands"))
      .withColumn("mvt_type", col("mvt.geom_type"))
      .drop("mvt")
  }
}
