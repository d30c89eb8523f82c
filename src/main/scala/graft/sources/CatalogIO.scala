package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog-table writes — the Iceberg contract. Iceberg plugs into Spark
  * purely as a DataSource V2 catalog, so the engine-side contract is
  * "write NAMED TABLES through the V2 API", proven against the built-in V2
  * session catalog; on a real cluster the same calls hit Iceberg's
  * snapshot-committing catalog with no code change.
  */
object CatalogIO {

  private def isUnsupportedReplace(e: org.apache.spark.sql.AnalysisException): Boolean = {
    val cls = Option(e.getCondition).getOrElse("")
    val msg = Option(e.getMessage).getOrElse("")
    cls.startsWith("UNSUPPORTED_FEATURE") ||
      cls == "TABLE_OR_VIEW_NOT_FOUND" ||
      msg.contains("only supported with v2 tables") ||
      msg.contains("REPLACE TABLE is not supported")
  }

  /** Write `df` hash-bucketed on `bucketCol` into `numBuckets` buckets as
    * a named table — the ONE-TIME layout step that makes every later join
    * or aggregate keyed on that column exchange-free: two tables bucketed
    * the same way co-locate matching keys, so the planner drops both
    * shuffle exchanges (bucket count must match across join sides).
    * This is the 100 TB lever for repeated spatial joins: pay the cell
    * shuffle once at ingest, then every PIP/distance/extent join over the
    * corpus reads co-located buckets.
    *
    * V2 catalogs with bucket transforms (Iceberg) take the
    * `partitionedBy(bucket(n, col))` path — Spark plans storage-partitioned
    * joins against it. The built-in session catalog rejects that transform
    * (UNSUPPORTED_FEATURE), so it falls back to Spark's native V1
    * bucketing (`bucketBy` + `sortBy` + `saveAsTable`), which the planner
    * recognizes the same way — proven exchange-free in SpatialJoinSpec.
    */
  def writeBucketed(df: DataFrame, ident: String, bucketCol: String,
                    numBuckets: Int): Unit = {
    import org.apache.spark.sql.functions.{bucket, col, lit}
    try df.writeTo(ident)
      .partitionedBy(bucket(lit(numBuckets), col(bucketCol)))
      .using("parquet").createOrReplace()
    catch {
      case e: org.apache.spark.sql.AnalysisException if isUnsupportedReplace(e) =>
        clearOrphanLocation(df.sparkSession, ident)
        // hash-distribute by the bucket column BEFORE the bucketed write
        // (the Iceberg write.distribution-mode=hash analogue): V1 bucketBy
        // does not shuffle, so each input task would otherwise write one
        // file per bucket it touches — numTasks×numBuckets small files and
        // write parallelism pinned to the upstream split count (3 tasks on
        // the local single-file scan). repartition's hash IS the bucket
        // hash (both pmod(Murmur3)), so each of the numBuckets tasks holds
        // exactly one bucket: one file per bucket, numBuckets-way write.
        df.repartition(numBuckets, col(bucketCol))
          .write.format("parquet")
          .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
          .mode("overwrite").saveAsTable(ident)
    }
  }

  /** The session catalog's registration is in-memory/derby-local while its
    * warehouse directory persists — a table written by a previous JVM
    * leaves an ORPHANED location that makes the next saveAsTable fail with
    * LOCATION_ALREADY_EXISTS. Clear the default-warehouse location only
    * when the catalog does NOT know the table (so a live table's data is
    * never touched); registered tables are handled by mode("overwrite").
    */
  private def clearOrphanLocation(spark: SparkSession, ident: String): Unit =
    if (!spark.catalog.tableExists(ident)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
      val path = new org.apache.hadoop.fs.Path(wh, ident.split('.').last.toLowerCase)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
}
