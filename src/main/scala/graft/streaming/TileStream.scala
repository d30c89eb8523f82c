package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeomFunctions._

/** Streaming tile pipeline — the tiler's shapes on an unbounded input
  * (SURVEY §2.13 / the Structured Streaming axis of the brief).
  *
  * Scale shape mirrors the batch tiler exactly: the cell encode is a
  * per-row vectorized expression (map-side, codegen), the only stateful
  * operator is the windowed aggregation keyed by (event-time window,
  * cell) whose state evicts on the watermark — state size is bounded by
  * (active windows × occupied cells), never by stream length. At 10^12
  * docs/day the same plan runs with a shuffle on (window, cell) and
  * RocksDB-backed state exactly as the local state store here.
  */
object TileStream {

  /** Watermarked per-tile feature counts (the q02 rollup as a stream):
    * input must carry event-time `ts` plus `lon`/`lat`. Append mode —
    * a (window, tile) row finalizes when the watermark passes the
    * window close, giving exactly-once per-window tile counts. On a
    * bounded frame the analyzer drops the watermark (Spark's
    * EliminateEventTimeWatermark), so the same call is the batch count.
    */
  def tileCounts(pts: DataFrame, z: Int,
                 windowDur: String = "1 hour",
                 watermarkDelay: String = "0 seconds"): DataFrame =
    pts
      .withWatermark("ts", watermarkDelay)
      .withColumn("cell", st_cell_at(col("lon"), col("lat"), lit(z)))
      .groupBy(window(col("ts"), windowDur).as("w"), col("cell"))
      .agg(count(lit(1)).as("n_features"))
      .select(unix_micros(col("w.start")).as("w_start_us"),
        st_cell_x(col("cell")).as("x"), st_cell_y(col("cell")).as("y"),
        col("n_features"))

  /** Streaming MVT emission: geometries → finished per-tile protobuf
    * bytes, one tile set per micro-batch via foreachBatch — the batch
    * sink (deterministic, byte-stable, streaming assembly) reused
    * unchanged as the streaming epoch writer. `collect` receives
    * (batchId, z, x, y, bytes); a production caller would write each
    * epoch to object storage keyed by (epoch, z, x, y), which is
    * idempotent under micro-batch replay because the sink's bytes are a
    * pure function of the batch contents (round-3 determinism gate).
    */
  def mvtTileStream(spark: SparkSession, geoms: DataFrame, idCol: String,
                    z: Int, layerName: String, srid: Int = 4326)
                   (collect: (Long, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery =
    geoms.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        collect(batchId,
          graft.operators.Tiler.mvtTiles(spark, batch.toDF(), idCol, z, lit(layerName), srid))
      }
      .start()

  /** PRODUCTION epoch writer (round-4 verdict task #7): each micro-batch
    * writes its finished tiles as one object per tile at the
    * deterministic key `outDir/epoch=<id>/<z>/<x>/<y>.mvt`. Idempotence
    * under micro-batch replay is by construction: the sink bytes are a
    * pure function of the batch contents (the round-3 byte-determinism
    * gate) and every write is an OVERWRITE of a path derived only from
    * (epoch, z, x, y) — a replayed epoch rewrites identical bytes to
    * identical keys, never appends or duplicates. Writes happen in the
    * TASKS through the Hadoop FileSystem API (file://, hdfs://, s3a://
    * all resolve from the same call) — tile bytes never collect to the
    * driver, so epoch size is unbounded.
    */
  def mvtEpochWriter(spark: SparkSession, geoms: DataFrame, idCol: String,
                     z: Int, layerName: String, srid: Int,
                     outDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    geoms.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeEpoch(
          graft.operators.Tiler.mvtTiles(spark, batch.toDF(), idCol, z, lit(layerName), srid),
          outDir, batchId)
      }
      .start()

  /** one epoch's tiles → one object per tile, written from the tasks.
    * Also the crash-replay surface the spec drives directly.
    *
    * Durability: each tile is written to a task-attempt-unique temp path
    * and RENAMED into its final key, so a task that dies mid-write leaves
    * only temp garbage (swept on the next attempt's epoch replay), never a
    * truncated tile at a final key — and two racing attempts (speculation,
    * zombie retry) each own a distinct temp file instead of fighting over
    * one HDFS lease. delete-then-rename is NOT atomic and HDFS rename
    * returns false onto an existing destination, so a losing racer's
    * rename CAN fail — that is treated as idempotent success when the
    * destination already holds a tile of the expected length (the bytes
    * at a key are a pure function of (epoch, z, x, y), so whoever won
    * wrote the same tile); only a missing/short destination errors into
    * task retry (round-5 advice: the old code failed the losing attempt
    * unconditionally). The epoch is readable iff its `_EPOCH_COMMIT`
    * marker exists, written by the driver only after every task finished.
    */
  /** rename tmp → fin, adopting a racer's win: when rename returns false
    * (HDFS does onto an existing destination; delete-then-rename is not
    * atomic) but the destination already holds `expectedLen` bytes, the
    * identical tile landed first — idempotent success. A missing or
    * short destination is a real failure and errors into task retry.
    */
  private[graft] def renameOrAdopt(fs: org.apache.hadoop.fs.FileSystem,
                                       tmp: org.apache.hadoop.fs.Path,
                                       fin: org.apache.hadoop.fs.Path,
                                       expectedLen: Long): Unit = {
    // stores disagree on HOW rename fails (HDFS returns false, the local
    // FS throws on a vanished source) — both routes land in the adopt
    // check, which alone decides success
    val renamed = try fs.rename(tmp, fin) catch { case _: java.io.IOException => false }
    if (!renamed) {
      val winner =
        try fs.getFileStatus(fin).getLen == expectedLen
        catch { case _: java.io.FileNotFoundException => false }
      fs.delete(tmp, false)
      if (!winner)
        sys.error(s"rename $tmp -> $fin failed with no committed tile at the destination")
    }
  }

  def writeEpoch(tiles: DataFrame, outDir: String, epoch: Long): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      tiles.sparkSession.sessionState.newHadoopConf())
    val epochDir = s"$outDir/epoch=$epoch"
    tiles.select("z", "x", "y", "mvt").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        var fs: org.apache.hadoop.fs.FileSystem = null
        val attempt = java.util.UUID.randomUUID().toString
        rows.foreach { r =>
          val fin = new org.apache.hadoop.fs.Path(
            s"$epochDir/${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}.mvt")
          val tmp = new org.apache.hadoop.fs.Path(
            s"$epochDir/_tmp/$attempt-${r.getInt(0)}-${r.getLong(1)}-${r.getLong(2)}")
          if (fs == null) fs = fin.getFileSystem(conf.value)
          val bytes = r.getAs[Array[Byte]]("mvt")
          val out = fs.create(tmp, /*overwrite=*/ true)
          try out.write(bytes) finally out.close()
          fs.mkdirs(fin.getParent)
          fs.delete(fin, false) // rename is no-overwrite on some stores
          renameOrAdopt(fs, tmp, fin, bytes.length.toLong)
        }
    }
    // all tasks done: sweep temp debris and commit the epoch atomically
    val fs = new org.apache.hadoop.fs.Path(epochDir)
      .getFileSystem(tiles.sparkSession.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$epochDir/_tmp"), true)
    val m = fs.create(new org.apache.hadoop.fs.Path(s"$epochDir/_EPOCH_COMMIT"), true)
    m.close()
  }
}
