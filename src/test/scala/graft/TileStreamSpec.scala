package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.TileStream

/** Streaming tile pipeline: watermark-finalized per-tile counts match the
  * batch rollup, and the MVT sink emits byte-stable tiles per micro-batch
  * through foreachBatch.
  */
class TileStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("watermarked streaming tile counts finalize to the batch rollup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // deterministic timestamped points: hour-0 rows are the measured
    // window; a single hour-3 row pushes the watermark past hour 0 so
    // append mode finalizes it
    val hour0 = (0L until 500L).map { i =>
      (i, (i % 73).toDouble - 36.0, (i % 59).toDouble - 29.0, i * 1000000L)
    }
    val pusher = Seq((9999L, 0.0, 0.0, 3L * 3600L * 1000000L))
    val input = MemoryStream[(Long, Double, Double, Long)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("pid", "lon", "lat", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = TileStream.tileCounts(shape(input.toDF()), z = 9,
        windowDur = "1 hour", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("tile_stream_out")
      .outputMode("append").start()
    try {
      input.addData(hour0.take(250))
      q.processAllAvailable()
      input.addData(hour0.drop(250))
      q.processAllAvailable()
      input.addData(pusher)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT * FROM tile_stream_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = TileStream.tileCounts(shape(hour0.toDF()), z = 9, windowDur = "1 hour")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty, "no finalized windows emitted")
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("streaming exact dedup: first-seen-wins across micro-batches, watermark-evicted state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // duplicates split ACROSS micro-batches: the batch path can't see them
    // together; only stateful streaming dedup collapses them
    val input = MemoryStream[(Long, String, Long)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("doc_id", "text", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = graft.operators.Dedup.exactStreaming(shape(input.toDF()),
        "doc_id", "text", tsCol = Some("ts"), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream_out")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, "alpha", 1000000L), (2L, "beta", 2000000L)))
      q.processAllAvailable()
      // batch 2 repeats alpha (same content, new id) inside the window
      input.addData(Seq((3L, "alpha", 3000000L), (4L, "gamma", 4000000L)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT keeper_id FROM dedup_stream_out").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 4L), s"got $out — duplicate alpha (id 3) must collapse to first-seen id 1")
  }

  test("foreachBatch MVT sink: per-epoch tiles byte-identical to batch-mode tiles") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val geomRows = SparkEntry.q33Input(spark, dir)
      .filter(col("pid") < 300).dropDuplicates("pid")
      .select(col("pid"), col("geom"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val input = MemoryStream[(Long, Array[Byte])]
    input.addData(geomRows.toSeq)
    val got = scala.collection.mutable.Map[(Long, Long), Array[Byte]]()
    val q = TileStream.mvtTileStream(spark,
        input.toDF().toDF("pid", "geom"), "pid", 9, "features", srid = 3857) {
      (_, tiles) =>
        tiles.collect().foreach(r =>
          got.synchronized { got((r.getLong(1), r.getLong(2))) = r.getAs[Array[Byte]]("mvt") })
    }
    try q.processAllAvailable() finally q.stop()
    val want = graft.operators.Tiler.mvtTiles(spark,
        geomRows.toSeq.toDF("pid", "geom"), "pid", 9, lit("features"), srid = 3857)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getAs[Array[Byte]]("mvt"))).toMap
    assert(got.nonEmpty && got.keySet == want.keySet, s"${got.size} vs ${want.size} tiles")
    want.foreach { case (k, b) =>
      assert(java.util.Arrays.equals(got(k), b), s"tile $k bytes differ from batch sink")
    }
  }

  test("epoch writer: files keyed (epoch,z,x,y), replay rewrites identical bytes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("mvt_epochs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mvt_ckpt").toString
    val geomRows = SparkEntry.q33Input(spark, dir)
      .filter(col("pid") < 200).dropDuplicates("pid")
      .select(col("pid"), col("geom"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    // end-to-end: one micro-batch through the streaming writer
    val input = MemoryStream[(Long, Array[Byte])]
    input.addData(geomRows.toSeq)
    val q = TileStream.mvtEpochWriter(spark, input.toDF().toDF("pid", "geom"),
      "pid", 9, "features", srid = 3857, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    def snapshot(): Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(outDir)
      val s = java.nio.file.Files.walk(base)
      try s.filter(p => p.toString.endsWith(".mvt")).iterator().asScala
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val first = snapshot()
    assert(first.nonEmpty, "epoch writer produced no tile files")
    assert(first.keySet.forall(_.startsWith("epoch=0/9/")),
      s"unexpected keys: ${first.keySet.take(3)}")
    // durability surface (round-5 review): the epoch is committed by its
    // marker, and the temp-write area is swept — no debris a reader could
    // mistake for a tile, no truncated bytes at final keys
    val epochRoot = java.nio.file.Paths.get(outDir, "epoch=0")
    assert(java.nio.file.Files.exists(epochRoot.resolve("_EPOCH_COMMIT")),
      "epoch commit marker missing")
    assert(!java.nio.file.Files.exists(epochRoot.resolve("_tmp")),
      "temp write area not swept after commit")
    // crash-replay: the SAME epoch re-executes (foreachBatch re-delivery
    // after an uncommitted failure) — identical bytes, identical keys,
    // no duplicate or phantom tiles
    TileStream.writeEpoch(
      graft.operators.Tiler.mvtTiles(spark, geomRows.toSeq.toDF("pid", "geom"),
        "pid", 9, lit("features"), srid = 3857), outDir, epoch = 0L)
    val second = snapshot()
    assert(second.keySet == first.keySet,
      s"replay changed the key set: ${(second.keySet diff first.keySet).take(3)}")
    first.foreach { case (k, b) =>
      assert(second(k) == b, s"replayed tile $k bytes differ")
    }
    // the bytes are the batch sink's bytes (the determinism gate carries
    // through the file surface)
    val want = graft.operators.Tiler.mvtTiles(spark,
        geomRows.toSeq.toDF("pid", "geom"), "pid", 9, lit("features"), srid = 3857)
      .collect().map(r => (s"epoch=0/${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}.mvt",
        r.getAs[Array[Byte]]("mvt").toSeq)).toMap
    assert(first == want)
  }

  test("renameOrAdopt: losing racer adopts an identical committed tile, errors otherwise") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("adopt").toString
    val fin = new Path(s"$dir/7/3/5.mvt")
    val fs = fin.getFileSystem(spark.sessionState.newHadoopConf())
    // a racer already committed the identical 4-byte tile; our tmp is
    // gone (rename returns false) -> idempotent success, no throw
    fs.mkdirs(fin.getParent)
    val out = fs.create(fin, true); out.write(Array[Byte](1, 2, 3, 4)); out.close()
    graft.streaming.TileStream.renameOrAdopt(
      fs, new Path(s"$dir/_tmp/gone"), fin, expectedLen = 4L)
    assert(fs.getFileStatus(fin).getLen == 4L)
    // wrong length at the destination = NOT our tile -> task failure
    intercept[RuntimeException] {
      graft.streaming.TileStream.renameOrAdopt(
        fs, new Path(s"$dir/_tmp/gone2"), fin, expectedLen = 9L)
    }
    // no committed tile at all -> task failure
    intercept[RuntimeException] {
      graft.streaming.TileStream.renameOrAdopt(
        fs, new Path(s"$dir/_tmp/gone3"), new Path(s"$dir/7/3/9.mvt"), expectedLen = 4L)
    }
    // the normal path still renames
    val tmp = new Path(s"$dir/_tmp/t1")
    val o2 = fs.create(tmp, true); o2.write(Array[Byte](9, 9)); o2.close()
    val fin2 = new Path(s"$dir/7/3/6.mvt")
    graft.streaming.TileStream.renameOrAdopt(fs, tmp, fin2, expectedLen = 2L)
    assert(fs.getFileStatus(fin2).getLen == 2L && !fs.exists(tmp))
  }
}
