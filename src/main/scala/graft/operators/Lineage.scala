package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Per-stage checkpointing with partition lineage + row-count metrics, so a
  * multi-stage pipeline resumes exactly after a failure (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Layout under `root`:
  *   <root>/<stage>/data/      — the stage output (parquet)
  *   <root>/<stage>/metrics/   — (stage, partition_id, row_count,
  *                                min_key, max_key) one row per partition
  *   <root>/<stage>/_DONE      — commit marker, written last
  *
  * `runStage` is idempotent: a completed stage (marker present) is read
  * back instead of recomputed; an interrupted stage (no marker) is
  * recomputed and overwritten. Writing data → metrics → marker in that
  * order makes the marker the atomic commit point. On a real deployment
  * the same layout maps to Iceberg tables with snapshot commits.
  */
object Lineage {

  def donePath(root: String, stage: String): java.nio.file.Path =
    Paths.get(root, stage, "_DONE")

  def isDone(root: String, stage: String): Boolean =
    Files.exists(donePath(root, stage))

  /** one row per partition of the committed `written` output: (partition_id,
    * row_count, min_key, max_key, stage), the keys cast to string */
  private def partitionMetrics(written: DataFrame, stage: String, keyCol: String): DataFrame =
    written
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("row_count"),
        min(col(keyCol)).cast("string").as("min_key"),
        max(col(keyCol)).cast("string").as("max_key"))
      .withColumn("stage", lit(stage))

  /** compute-or-resume a stage. keyCol drives min/max lineage bounds. */
  def runStage(spark: SparkSession, root: String, stage: String,
               keyCol: String)(compute: => DataFrame): DataFrame = {
    val dataDir = s"$root/$stage/data"
    if (isDone(root, stage)) return spark.read.parquet(dataDir)

    val df = compute
    df.write.mode("overwrite").parquet(dataDir)

    // lineage metrics from the COMMITTED files (not the in-flight plan)
    partitionMetrics(spark.read.parquet(dataDir), stage, keyCol)
      .write.mode("overwrite").parquet(s"$root/$stage/metrics")

    Files.createDirectories(donePath(root, stage).getParent)
    Files.write(donePath(root, stage), Array.emptyByteArray)
    spark.read.parquet(dataDir)
  }

  def metrics(spark: SparkSession, root: String, stage: String): DataFrame =
    spark.read.parquet(s"$root/$stage/metrics")

  /** Catalog-table flavor of `runStage` (the Iceberg deployment shape):
    * stage output and lineage metrics are NAMED TABLES written through
    * the V2 writer — on an Iceberg catalog each write is a snapshot
    * commit. Commit order is data → metrics, so the metrics table's
    * existence is the stage's done marker; a crash in between leaves the
    * stage "not done" and it recomputes idempotently (REPLACE semantics).
    * `prefix` may be catalog/db-qualified (`cat.db.pipeline1`).
    */
  def runStageTable(spark: SparkSession, prefix: String, stage: String,
                    keyCol: String)(compute: => DataFrame): DataFrame = {
    import graft.sources.CatalogIO
    val dataT = s"${prefix}_$stage"
    val metaT = s"${prefix}_${stage}_metrics"
    if (CatalogIO.tableExists(spark, dataT) && CatalogIO.tableExists(spark, metaT))
      return spark.read.table(dataT)

    CatalogIO.replaceTable(compute, dataT)
    CatalogIO.replaceTable(partitionMetrics(spark.read.table(dataT), stage, keyCol), metaT)
    spark.read.table(dataT)
  }

  def metricsTable(spark: SparkSession, prefix: String, stage: String): DataFrame =
    spark.read.table(s"${prefix}_${stage}_metrics")
}

/** Hot-key (dense-cell) skew handling: salting and adaptive cell split. */
object Skew {

  /** shuffle-salt a hot key: repartitions by (key, salt) so one hot key
    * spreads over `salts` reducers. The salt never appears in join/agg
    * predicates — results are unchanged, only placement.
    */
  def saltedRepartition(df: DataFrame, keyCol: String, salts: Int): DataFrame =
    df.withColumn("__salt", pmod(hash(col("*")), lit(salts)))
      .repartition(col(keyCol), col("__salt"))
      .drop("__salt")

  /** adaptive cell split (SURVEY.md §2.13): rows in cells hotter than
    * `hotThreshold` are re-encoded one zoom deeper via the tile family,
    * bounding any single cell's row count. Input needs (cell, lon, lat);
    * output replaces `cell` for hot rows only.
    */
  def adaptiveCellSplit(df: DataFrame, hotThreshold: Long): DataFrame = {
    import graft.functions.GeomFunctions._
    val hot = df.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .filter(col("n") > hotThreshold)
      .select(col("cell"), lit(true).as("__hot"))
    df.join(broadcast(hot), Seq("cell"), "left")
      .withColumn("cell",
        when(col("__hot").isNotNull,
          st_cell_at(col("lon"), col("lat"), st_cell_z(col("cell")) + 1))
          .otherwise(col("cell")))
      .drop("__hot")
  }
}
