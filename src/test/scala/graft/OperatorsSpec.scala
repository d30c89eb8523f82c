package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class OperatorsSpec extends AnyFunSuite with KnnFixtures {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("cell-pruned kNN is exactly brute-force kNN (certification + fallback)") {
    val pts = graft.sources.Synth.points(spark, dir).select(col("pid"), col("lon"), col("lat"))
    // include sparse-region queries to force the fallback path
    val qs = pts.filter(col("pid") % 37 === 0)
      .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val got = Knn.knnJoin(qs, pts, k = 3, z = 6)
    val want = bruteKnn(qs, pts, 3)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }

  test("kNN under 100x hot-cell skew: exact results, bounded task times") {
    import spark.implicits._
    // synthetic skew: a uniform background plus one urban cluster packing
    // ~100x the background cell density into a single grid cell at the
    // operator's zoom (VERDICT round-3 'dense cell' shape, kdtree.go:22-77
    // concern). Deterministic: no RNG, golden-ratio decimals.
    val background = (0L until 2000L).map { i =>
      (i, (i * 0.618033988749895 % 1.0) * 80.0 - 40.0, (i * 0.414213562373095 % 1.0) * 60.0 - 30.0)
    }
    val hot = (10000L until 12000L).map { i =>
      // all inside a ~0.15 degree box near (10.1, 10.1): one z8-z9 cell
      (i, 10.1 + (i % 47) * 0.003, 10.1 + (i % 53) * 0.0028)
    }
    val pts = (background ++ hot).toDF("pid", "lon", "lat").repartition(8)
    val qs = pts.filter(col("pid") % 11 === 0)
      .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    // task-time spread via listener: the dense cell must not serialize the
    // stage into one monster task. SCOPED to the knnJoin action via a job
    // group -> stage-id set (round-4 advice: an unscoped listener also
    // aggregated the brute-force baseline's tasks), and drained with
    // waitUntilEmpty instead of a racy sleep.
    val durations = scala.collection.mutable.ArrayBuffer[Long]()
    val probeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            "knn-skew-probe" == j.properties.getProperty("spark.jobGroup.id"))
          j.stageInfos.foreach(si => probeStages.add(si.stageId))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null && probeStages.contains(t.stageId))
          durations.synchronized { durations += t.taskInfo.duration }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup("knn-skew-probe", "kNN skew probe")
    val got = Knn.knnJoin(qs, pts, k = 3, z = 8)
    got.count() // the measured action: only in-group stages feed `durations`
    spark.sparkContext.clearJobGroup()
    val want = bruteKnn(qs, pts, 3)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "skewed kNN diverges from brute force")
    org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val ds = durations.synchronized(durations.toVector).sorted
    assert(ds.nonEmpty)
    // bounded: no task may dominate the whole job (the dense cell's pairs
    // flow through WindowGroupLimit(Partial) per map partition and the
    // query side is broadcast, so the hot cell's points stay spread over
    // the input splits rather than funneling into one task)
    val total = ds.sum.toDouble
    assert(ds.last < total * 0.5,
      s"one task took ${ds.last} ms of ${total.toLong} ms total across ${ds.size} tasks")
  }

  test("big-big PIP join: no broadcast in the plan, results identical to the broadcast form") {
    import graft.functions.GeomFunctions._
    val pts = graft.sources.Synth.points(spark, dir)
    val regions = graft.sources.Synth.regions(spark, dir)
      .withColumn("poly", st_box_polygon(col("minx"), col("miny"), col("maxx"), col("maxy")))
    // emulate the target regime — a polygon side too large to broadcast —
    // with a polygon frame the footers cannot prove small (under a filter
    // the footer row count is no proof) and Catalyst's broadcast
    // thresholds disabled (at test scale it would otherwise rightly
    // broadcast the tiny regions table)
    val bigPolys = regions.filter(col("region_id") >= 0)
    assert(!SpatialJoin.provablySmall(bigPolys))
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    saved.foreach { case (k, _) => conf.set(k, "-1") }
    try {
      val got = SpatialJoin.pipJoin(pts, "lon", "lat", bigPolys, "region_id", "poly", z = 5)
        .select(col("pid"), col("region_id"))
      // the broadcast form (q03's plan) is the correctness reference
      val regB = regions.withColumn("cell5", explode(
        st_tiles_for_bounds(col("minx"), col("miny"), col("maxx"), col("maxy"), lit(5))))
      val want = pts.withColumn("cell5", st_cell_at(col("lon"), col("lat"), lit(5)))
        .join(broadcast(regB), Seq("cell5"), "inner")
        .filter(st_contains(col("poly"), col("lon"), col("lat")))
        .select(col("pid"), col("region_id"))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "shuffle PIP join diverges from the broadcast form")
      // and it must actually BE the shuffle plan in this regime
      got.count()
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"big-big path fell back to a broadcast join:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join on the cell key:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    // derived-zoom entry point also runs (bounded footer sampling)
    assert(SpatialJoin.pipJoin(pts, "lon", "lat", regions, "region_id", "poly").limit(1).count() >= 0)
  }

  test("pipJoin dispatch: footer-small polygon side takes the broadcast plan, unprovable side the shuffle plan") {
    import graft.functions.GeomFunctions._
    import spark.implicits._
    val pts = graft.sources.Synth.points(spark, dir)
    val regions = graft.sources.Synth.regions(spark, dir)
      .withColumn("poly", st_box_polygon(col("minx"), col("miny"), col("maxx"), col("maxy")))
    // parquet-backed 25-row regions: footer stats PROVE the side small →
    // broadcast plan, no shuffle-join exchange, and results identical to
    // the q03 broadcast reference
    val fast = SpatialJoin.pipJoin(pts, "lon", "lat", regions, "region_id", "poly", z = 5)
      .select(col("pid"), col("region_id"))
    fast.count()
    val fastPlan = fast.queryExecution.executedPlan.toString
    assert(fastPlan.contains("BroadcastHashJoin"),
      s"footer-small side did not take the broadcast plan:\n$fastPlan")
    assert(!fastPlan.contains("SortMergeJoin"),
      s"broadcast fast path still shuffle-joins:\n$fastPlan")
    val regB = regions.withColumn("cell5", explode(
      st_tiles_for_bounds(col("minx"), col("miny"), col("maxx"), col("maxy"), lit(5))))
    val want = pts.withColumn("cell5", st_cell_at(col("lon"), col("lat"), lit(5)))
      .join(broadcast(regB), Seq("cell5"), "inner")
      .filter(st_contains(col("poly"), col("lon"), col("lat")))
      .select(col("pid"), col("region_id"))
    assert(fast.exceptAll(want).count() == 0 && want.exceptAll(fast).count() == 0,
      "broadcast fast path diverges from the q03 reference plan")
    // an in-memory polys frame has NO footer proof → the shuffle plan
    // (the 100 TB default) must fire even though the side is tiny
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    saved.foreach { case (k, _) => conf.set(k, "-1") }
    try {
      val memPolys = regions.collect().toSeq
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getAs[Array[Byte]]("poly")))
        .toDF("region_id", "minx", "miny", "maxx", "maxy", "poly")
      val slow = SpatialJoin.pipJoin(pts, "lon", "lat", memPolys, "region_id", "poly", z = 5)
        .select(col("pid"), col("region_id"))
      slow.count()
      val slowPlan = slow.queryExecution.executedPlan.toString
      assert(slowPlan.contains("SortMergeJoin") || slowPlan.contains("ShuffledHashJoin"),
        s"unprovable side skipped the shuffle plan:\n$slowPlan")
      assert(slow.exceptAll(want).count() == 0 && want.exceptAll(slow).count() == 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("distance join: exact pairs vs naive cross, pair-unique, disc-cover replication") {
    // dropDuplicates: Synth.points repeats pids (6000 rows / 4599 ids),
    // and the pair-uniqueness property is per input ROW — duplicate ids
    // would make (qid, nid) legitimately appear once per underlying pair
    val pts = graft.sources.Synth.points(spark, dir)
      .select(col("pid"), col("lon"), col("lat")).dropDuplicates("pid")
    val l = pts.filter(col("pid") % 11 === 0)
      .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val r = pts.select(col("pid").as("nid"), col("lon"), col("lat"))
    val got = SpatialJoin.distanceJoin(l, "qlon", "qlat", r, "lon", "lat", radius = 0.7)
      .select(col("qid"), col("nid"))
    val d2 = (col("qlon") - col("lon")) * (col("qlon") - col("lon")) +
      (col("qlat") - col("lat")) * (col("qlat") - col("lat"))
    val want = l.crossJoin(r).filter(d2 <= 0.49).select(col("qid"), col("nid"))
    assert(got.count() > 0, "vacuous test: no pairs within radius")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "distance join diverges from the naive cross join")
    // pair-unique WITHOUT a distinct: right owns one cell, left cover
    // lists each cell once
    assert(got.count() == got.distinct().count(), "duplicate pairs emitted")
    // radius zero degenerates to exact-coordinate matches only
    val z0 = SpatialJoin.distanceJoin(l, "qlon", "qlat", r, "lon", "lat", radius = 0.0)
    assert(z0.filter(col("dist2") > 0).count() == 0)
  }

  test("extent join: closed-interval overlap, reporting-cell dedupe, edge cases") {
    import spark.implicits._
    // left: 2°×2° boxes grown from points; right: region bboxes (regions
    // are mutually disjoint, so a regions self-join would be vacuous)
    val a = graft.sources.Synth.points(spark, dir).filter(col("pid") % 16 === 0)
      .dropDuplicates("pid") // repeated pids would masquerade as join dups
      .select(col("pid").as("ra"),
        col("lon").as("aminx"), col("lat").as("aminy"),
        (col("lon") + 2.0).as("amaxx"), (col("lat") + 2.0).as("amaxy"))
    val b = graft.sources.Synth.regions(spark, dir)
      .select(col("region_id").as("rb"),
        col("minx").as("bminx"), col("miny").as("bminy"),
        col("maxx").as("bmaxx"), col("maxy").as("bmaxy"))
    val got = SpatialJoin.extentJoin(a, "aminx", "aminy", "amaxx", "amaxy",
        b, "bminx", "bminy", "bmaxx", "bmaxy", z = 6)
      .select(col("ra"), col("rb"))
    val want = a.crossJoin(b).filter(
        col("aminx") <= col("bmaxx") && col("bminx") <= col("amaxx") &&
        col("aminy") <= col("bmaxy") && col("bminy") <= col("amaxy"))
      .select(col("ra"), col("rb"))
    assert(got.count() > 0, "vacuous test: no overlapping boxes")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "extent join diverges from the naive overlap")
    // the reporting-cell filter IS the dedupe: no distinct in the plan,
    // no duplicate pairs in the output
    assert(got.count() == got.distinct().count(), "duplicate pairs emitted")
    assert(!got.queryExecution.executedPlan.toString.contains("Deduplicate"),
      "extent join should not need a distinct exchange")
    // edge-touching boxes overlap under closed intervals; disjoint boxes
    // sharing a cell do not pair
    val ta = Seq((1L, 0.0, 0.0, 1.0, 1.0), (2L, 5.0, 5.0, 5.1, 5.1))
      .toDF("ra", "aminx", "aminy", "amaxx", "amaxy")
    val tb = Seq((10L, 1.0, 0.0, 2.0, 1.0), (20L, 5.2, 5.2, 5.3, 5.3))
      .toDF("rb", "bminx", "bminy", "bmaxx", "bmaxy")
    val t = SpatialJoin.extentJoin(ta, "aminx", "aminy", "amaxx", "amaxy",
        tb, "bminx", "bminy", "bmaxx", "bmaxy", z = 4)
      .select(col("ra"), col("rb")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t == Set((1L, 10L)),
      s"edge-touch must pair once, same-cell-disjoint must not: $t")
  }

  test("LSH ANN recall against brute-force cosine top-k") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("vec"))
    val qs = emb.filter(col("vid") % 25 === 0)
      .select(col("vid").as("qid"), col("vec").as("qvec"))
    val exact = Ann.cosineTopK(qs, emb, k = 10)
      .select(col("qid"), col("vid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(qs, emb, k = 10, dim = 64, bits = 4)
      .select(col("qid"), col("vid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 4-bit SRP on 64-dim random vectors: bucket holds ~1/16 of corpus;
    // recall is approximate by design — sanity floor only
    assert(recall > 0.1, s"recall=$recall")
    assert(approx.nonEmpty)
  }

  test("embedding-cosine near-dup finds planted perturbed copies only") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("vec"))
    val planted = emb.filter(col("vid") % 10 === 0)
      .select(col("vid").as("ovid"), col("vec"))
      .select((col("ovid") + 1000000L).as("vid"),
        transform(col("vec"), (x, i) =>
          x * (lit(1.0) + ((col("ovid") + i.cast("long")) % 7 - 3).cast("double") * lit(1e-4)))
          .as("vec"))
    val nPlanted = planted.count()
    val pairs = Dedup.embedNearDupPairs(emb.unionByName(planted), dim = 64, bits = 8, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every pair is an original with its own planted copy, none spurious
    assert(pairs.forall { case (a, b) => b == a + 1000000L },
      s"spurious pair: ${pairs.find { case (a, b) => b != a + 1000000L }}")
    // near-identical vectors agree on (almost) every sign projection;
    // allow at most one bucket-split loss
    assert(pairs.length >= nPlanted - 1, s"found ${pairs.length} of $nPlanted planted pairs")
  }

  /** the tile pipeline as five composable expressions (each stage is
    * independently available/gated): the fused kernel's parity reference.
    */
  private def mvtCommandsChained(df: DataFrame, geomCol: String,
                                 zCol: String, xCol: String, yCol: String): DataFrame = {
    import graft.functions.GeomFunctions._
    val ext = st_tile_extent_3857(col(zCol), col(xCol), col(yCol))
    df.withColumn("t_ext", ext)
      .withColumn("webs", (col("t_ext.maxx") - col("t_ext.minx")) / lit(4096.0))
      .withColumn("g_simp", st_simplify(col(geomCol), col("webs")))
      .withColumn("g_fixed", st_makevalid(col("g_simp"),
        col("t_ext.minx") - col("webs"), col("t_ext.miny") - col("webs"),
        col("t_ext.maxx") + col("webs"), col("t_ext.maxy") + col("webs")))
      .withColumn("g_prep", st_prepare_extent(col("g_fixed"),
        col("t_ext.minx"), col("t_ext.miny"), col("t_ext.maxx"), col("t_ext.maxy")))
      .withColumn("mvt", st_mvt_geometry(col("g_prep")))
      .withColumn("mvt_commands", col("mvt.commands"))
      .withColumn("mvt_type", col("mvt.geom_type"))
      .drop("mvt")
  }

  test("fused st_mvt_pipeline is bit-identical to the five-stage expression chain") {
    val withGeom = graft.SparkEntry.q33Input(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pid"), col("mvt_type"), col("mvt_commands"))
      .collect()
      .map(r => (r.getLong(0), r.get(1),
        if (r.isNullAt(2)) null else r.getSeq[Long](2).toList))
      .toSet
    val fused = rows(TilePipeline.mvtCommands(withGeom, "geom", "z9", "tx", "ty"))
    val chained = rows(mvtCommandsChained(withGeom, "geom", "z9", "tx", "ty"))
    assert(fused.nonEmpty)
    assert(fused == chained)
  }

  test("st_mvt_pipeline runs under Structured Streaming, matching batch output") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // feed a slice of the q33 input as WKB through a memory stream: the
    // fused tile kernel is a stateless scalar expression, so the streaming
    // micro-batch plan must produce the exact batch rows
    val batchIn = graft.SparkEntry.q33Input(spark, dir)
      .filter(col("pid") < 600)
      .select(col("pid"), col("tx"), col("ty"), col("geom"))
    val staged = batchIn.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Array[Byte]](3)))
    val input = MemoryStream[(Long, Long, Long, Array[Byte])]
    input.addData(staged.toSeq)
    val streamDf = input.toDF().toDF("pid", "tx", "ty", "geom")
      .withColumn("z9", lit(9))
    val q = TilePipeline.mvtCommands(streamDf, "geom", "z9", "tx", "ty")
      .select(col("pid"), col("mvt_type"), size(col("mvt_commands")).as("n_cmds"))
      .writeStream.format("memory").queryName("mvt_stream_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.sql("SELECT * FROM mvt_stream_out").collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    val batch = TilePipeline.mvtCommands(batchIn.withColumn("z9", lit(9)),
        "geom", "z9", "tx", "ty")
      .select(col("pid"), col("mvt_type"), size(col("mvt_commands")).as("n_cmds"))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("raster vectorize: rectangles cover exactly the occupied pixel set") {
    val pts = graft.sources.Synth.points(spark, dir).select(col("pid"), col("lon"), col("lat"))
    val ras = Tiler.rasterizePoints(pts, z = 6, res = 64)
    val runs = Tiler.rasterRuns(ras)
    // runs partition the occupied pixels of each row exactly
    val pixelCount = ras.count()
    val runPixelSum = runs.agg(sum(col("px1") - col("px0") + 1)).head.getLong(0)
    assert(runPixelSum == pixelCount, s"runs cover $runPixelSum of $pixelCount pixels")
  }

  test("minhash LSH finds constructed near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                   // near-dup of 1
      (3L, base.replace("quick", "slow")),     // near-dup of 1
      (4L, "completely different words nothing shared at all here ok"),
      (5L, base)                               // exact dup of 1
    ).toDF("doc_id", "text")
    val rawPairs = Dedup.nearDupPairs(docs, "doc_id", "text", bands = 4, rowsPerBand = 4,
      threshold = 0.4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pairs = rawPairs.toSet
    // the exact dup (1,5) collides in every band; first-shared-band dedupe
    // must emit each pair exactly once without a distinct()
    assert(rawPairs.length == pairs.size, s"duplicate pair emission: $rawPairs")
    assert(pairs.contains((1L, 5L)), s"exact dup pair missing: $pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L) ||
           pairs.exists(p => p._1 == 2L && p._2 == 5L), s"near dup missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"false positive with 4: $pairs")
  }

  test("streaming layer encode is byte-identical and handles a 10x-median hot tile") {
    import graft.core.MvtTile
    def feats(n: Int) = (1 to n).map(i =>
      MvtTile.Feature(i.toLong, 1, Vector(9L, (2 * i).toLong, (2 * i + 1).toLong),
        MvtTile.strProps("fid" -> s"f$i", "kind" -> (if (i % 3 == 0) "a" else "b"))))
    // byte parity on a normal tile
    val normal = feats(50)
    assert(java.util.Arrays.equals(
      MvtTile.encodeLayer(MvtTile.Layer("l", normal)),
      MvtTile.encodeLayerStream("l", normal.iterator)))
    // hot tile at 10x the median: the streaming path consumes a one-shot
    // iterator (no materialized list) and still matches the eager bytes
    val hot = feats(500)
    val streamed = MvtTile.encodeLayerStream("l", hot.iterator)
    assert(java.util.Arrays.equals(MvtTile.encodeLayer(MvtTile.Layer("l", hot)), streamed))
    assert(java.util.Arrays.equals(
      MvtTile.encodeTile(Vector(MvtTile.Layer("l", hot))),
      MvtTile.encodeTileFromLayerBytes(Vector(streamed))))
  }

  test("media stub: meta + frame-sampled features are deterministic and distributed") {
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val meta = Media.extractMeta(media, "doc_id", "blob")
    assert(meta.count() == 500)
    assert(meta.filter(col("width") < 16 || col("width") >= 16 + 1017).count() == 0)
  }

  test("real image decode: ImageIO round-trips PNG and JPEG, skips poison blobs") {
    import spark.implicits._
    // PNG is lossless: decoded raster must equal the synth pixel function
    val ids = Seq(3L, 40L, 1234L).toDF("doc_id")
    val pngs = Media.synthPng(spark, ids, "doc_id", w = 16, h = 16)
      .as[(Long, Array[Byte])].collect().toMap
    assert(pngs.keySet == Set(3L, 40L, 1234L))
    // the bytes are REAL PNGs (magic header), not hashes
    assert(pngs(3L).take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val im = Media.decodeImage(pngs(1234L)).get
    assert(im.width == 16 && im.height == 16)
    for (x <- 0 until 16; y <- 0 until 16) {
      val (r, g, b) = Media.synthPixel(1234L, x, y)
      val p = im.argb(y * 16 + x)
      assert(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF) == ((r, g, b)))
    }
    // JPEG: lossy, but the real decoder must produce the right dims and
    // pixels within quantization error of the source raster
    val src = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 16) src.setRGB(x, y, 0x808080)
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", jb)
    val jm = Media.decodeImage(jb.toByteArray).get
    assert(jm.width == 16 && jm.height == 16)
    assert(math.abs(((jm.argb(0) >> 16) & 0xFF) - 0x80) <= 8)
    // poison blobs skip cleanly (None), never throw
    assert(Media.decodeImage(Array[Byte](1, 2, 3)).isEmpty)
    assert(Media.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Media.decodeImage("not an image at all".getBytes).isEmpty)
    // and a frame with poison rows still yields stats for the good rows
    val mixed = pngs.toSeq.toDF("media_id", "png")
      .union(Seq((999L, Array[Byte](9, 9, 9))).toDF("media_id", "png"))
    val stats = Media.imageGridStats(spark, mixed, "media_id", "png", grid = 4)
    assert(stats.select("media_id").distinct().count() == 3) // 999 skipped
    assert(stats.count() == 48) // 3 images × 16 cells
  }

  test("mvt tile sink emits decodable per-tile protobuf") {
    import graft.core.MvtTile
    val docs = graft.sources.DocsTable.docs(spark, dir)
    val polys = graft.sources.DocsTable.extractGeometries(docs)
      .filter(graft.functions.GeomFunctions.st_geomtype(col("geom")) === "Polygon")
    val tiles = Tiler.mvtTiles(spark, polys, "doc_id", z = 7, layer = lit("geoms"))
    val rows = tiles.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("mvt")
      assert(bytes.nonEmpty)
      assert(MvtTile.decodeTileLayerNames(bytes) == Vector("geoms"), "layer name round-trips")
      assert(r.getAs[Int]("z") == 7)
    }
  }

  test("4326 sink route: st_prepare_extent over st_tile_envelope is st_prepare_tile") {
    import graft.functions.GeomFunctions._
    val docs = graft.sources.DocsTable.docs(spark, dir)
    val polys = graft.sources.DocsTable.extractGeometries(docs)
      .filter(st_geomtype(col("geom")) === "Polygon")
    val te = st_tile_envelope(col("cell"))
    // the geometry itself is the id column: one row per (geometry, cover cell)
    val rows = Tiler.assignTiles(polys, "geom", z = 7)
      .select(col("cell"),
        st_prepare_extent(col("geom"), te("minx"), te("miny"), te("maxx"), te("maxy")).as("ext"),
        st_prepare_tile(col("geom"), col("cell")).as("tile"))
      .collect()
    assert(rows.length > 100 && rows.map(_.getLong(0)).distinct.length > 10)
    rows.foreach { r =>
      val (ext, tile) = (r.getAs[Array[Byte]]("ext"), r.getAs[Array[Byte]]("tile"))
      assert(ext != null && java.util.Arrays.equals(ext, tile), s"cell ${r.getLong(0)} differs")
    }
  }

  test("tiler calls reject an SRID without a tile grid") {
    val geoms = spark.range(1).select(col("id"),
      graft.functions.GeomFunctions.st_geomfromwkt(lit("POINT (1 2)")).as("geom"))
    intercept[IllegalArgumentException](Tiler.assignTiles(geoms, "id", 9, srid = 2263))
    intercept[IllegalArgumentException](
      Tiler.mvtTiles(spark, geoms, "id", 9, lit("t"), srid = 2263))
  }

  test("mvt tile sink: hot tile at 10x median, deterministic bytes, sorted features") {
    import spark.implicits._
    import graft.core.MvtTile
    import graft.functions.GeomFunctions._
    // 40 tiles with ~5 features each plus ONE tile with 50 (10x median):
    // the skew shape VERDICT r2 flagged. All features are small boxes
    // strictly inside their z9 tile (3857 meters).
    val rows = (0 until 250).map { i =>
      val hot = i < 50
      val tx = if (hot) 300 else 301 + (i - 50) % 40
      val ty = 200
      (i.toLong, tx, ty)
    }
    val base = rows.toDF("fid0", "tx", "ty")
      .withColumn("te", st_tile_extent_3857(lit(9), col("tx").cast("long"), col("ty").cast("long")))
      .withColumn("xs", col("te.maxx") - col("te.minx"))
      .withColumn("x0", col("te.minx") + (lit(0.1) + (col("fid0") % 13) * 0.05) * col("xs"))
      .withColumn("y0", col("te.miny") + (lit(0.1) + (col("fid0") % 11) * 0.06) * col("xs"))
      .withColumn("wkt", concat(lit("POLYGON (("),
        col("x0"), lit(" "), col("y0"), lit(","),
        col("x0") + col("xs") * 0.02, lit(" "), col("y0"), lit(","),
        col("x0") + col("xs") * 0.02, lit(" "), col("y0") + col("xs") * 0.02, lit(","),
        col("x0"), lit(" "), col("y0") + col("xs") * 0.02, lit(","),
        col("x0"), lit(" "), col("y0"), lit("))")))
      .select(col("fid0").as("gid"), st_geomfromwkt(col("wkt")).as("geom"))
    def runOnce(parts: Int): Map[(Long, Long), Array[Byte]] = {
      val in = base.repartition(parts)
      Tiler.mvtTiles(spark, in, "gid", z = 9, layer = lit("t"), srid = 3857)
        .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getAs[Array[Byte]]("mvt"))).toMap
    }
    val a = runOnce(3)
    val b = runOnce(17)
    // DETERMINISM across partitionings (the round-2 sink was arrival-order)
    assert(a.keySet == b.keySet)
    a.foreach { case (k, bytes) => assert(bytes.sameElements(b(k)), s"tile $k bytes differ") }
    // the hot tile has all 50 features, in fid-string sorted order
    val hot = MvtTile.decodeTile(a((300L, 200L)))
    assert(hot.length == 1 && hot.head.features.length == 50)
    val fids = hot.head.features.map(_.properties.head._2.asInstanceOf[MvtTile.TagValue.VString].v)
    assert(fids == fids.sorted, "features not in fid order")
    // feature ids are 1..n in that order
    assert(hot.head.features.map(_.id) == (1L to 50L))
    // a median tile holds its ~5 features
    assert(a.exists { case ((x, _), bytes) =>
      x != 300L && MvtTile.decodeTile(bytes).head.features.length >= 4 })
  }

  test("multi-layer MVT sink: layers in name order, deterministic, decode round-trip") {
    import graft.core.MvtTile
    import spark.implicits._
    // ids sharing a cell across parities: id and id+5 land on the same
    // z9 tile (340 + id%5), so most tiles carry both layers
    val rows = (0L until 100L).map { id =>
      val tx = 340 + (id % 5).toInt
      val ty = 200 + ((id / 10) % 3).toInt
      val e = graft.core.Slippy.tileExtent3857(9, tx, ty)
      val w = e.maxx - e.minx; val h = e.maxy - e.miny
      val x0 = e.minx + (0.1 + (id % 7) * 0.05) * w
      val y0 = e.miny + (0.1 + (id % 6) * 0.05) * h
      val x1 = x0 + 0.2 * w; val y1 = y0 + 0.2 * h
      (id, s"POLYGON (($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))")
    }
    val base = rows.toDF("pid", "wkt")
      .withColumn("geom", graft.functions.GeomFunctions.st_geomfromwkt(col("wkt")))
      .withColumn("lyr", when(col("pid") % 2 === 0, "roads").otherwise("pois"))
      .select(col("pid"), col("geom"), col("lyr"))
    def runOnce(parts: Int): Map[(Long, Long), Array[Byte]] =
      Tiler.mvtTiles(spark, base.repartition(parts), "pid", 9, layer = col("lyr"), srid = 3857)
        .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getAs[Array[Byte]]("mvt"))).toMap
    val a = runOnce(3)
    val b = runOnce(11)
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, bytes) => assert(bytes.sameElements(b(k)), s"tile $k not deterministic") }
    // a tile containing both parities carries BOTH layers, name-ordered
    val multi = a.values.map(MvtTile.decodeTile).find(_.length == 2)
    assert(multi.isDefined, "no two-layer tile produced")
    assert(multi.get.map(_.name) == Vector("pois", "roads"), "layers not in name order")
    multi.get.foreach { layer =>
      assert(layer.features.nonEmpty)
      val fids = layer.features.map(_.properties.head._2.asInstanceOf[MvtTile.TagValue.VString].v)
      assert(fids == fids.sorted, s"layer ${layer.name} features not fid-ordered")
      // parity respected: roads = even pids, pois = odd
      val even = layer.name == "roads"
      assert(fids.forall(f => (f.toLong % 2 == 0) == even), s"layer ${layer.name} mixed parities")
    }
  }

  test("constant MVT layer: the bytes of the layer carried as a column, no layer in the shuffle") {
    val in = SparkEntry.q33Input(spark, dir).select(col("pid"), col("geom"))
    val byName = Tiler.mvtTiles(spark, in, "pid", 9, lit("features"), srid = 3857)
    val byColumn = Tiler.mvtTiles(spark, in.withColumn("lyr", lit("features")), "pid", 9,
      col("lyr"), srid = 3857)
    def bytesOf(df: DataFrame): Map[(Long, Long), Seq[Byte]] =
      df.collect().map(r => ((r.getLong(1), r.getLong(2)), r.getAs[Array[Byte]]("mvt").toSeq)).toMap
    val want = bytesOf(byColumn)
    assert(want.nonEmpty && bytesOf(byName) == want)
    // the cell exchange carries no layer column on the constant path
    val exchanged = byName.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.child.output.map(_.name)
    }
    assert(exchanged.nonEmpty && exchanged.forall(!_.contains("layer")), exchanged)
  }

  test("q43's MVT encode runs one task per core: no coalesced read over the cell exchange") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
    val cores = spark.sparkContext.defaultParallelism
    val df = SparkEntry.queries("q43_mvt_tile_bytes")(spark, dir)
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        tasks.add((e.stageInfo.stageId, e.stageInfo.numTasks))
    }
    val sc = spark.sparkContext
    org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      assert(df.collect().nonEmpty)
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(l)
    // the last stage reads the cell exchange: the walk + encode stage
    import scala.jdk.CollectionConverters._
    assert(tasks.asScala.maxBy(_._1)._2 == cores, tasks.asScala.toSeq)
    val finalPlan = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    val coalesced = finalPlan.collect { case r: AQEShuffleReadExec if r.hasCoalescedPartition => r }
    assert(coalesced.isEmpty, finalPlan.treeString)
  }

  test("mvt layer key/value dedup across features") {
    import graft.core.MvtTile._
    val layer = Layer("t", Vector(
      Feature(1, 3, Vector(9L, 0L, 0L, 15L), strProps("kind" -> "a", "src" -> "x")),
      Feature(2, 3, Vector(9L, 2L, 2L, 15L), strProps("kind" -> "a", "src" -> "y"))))
    val bytes = encodeLayer(layer)
    // "kind", "src" and "a" must appear exactly once in the wire bytes
    def countOf(s: String): Int = {
      val needle = s.getBytes("UTF-8")
      bytes.sliding(needle.length).count(_.sameElements(needle))
    }
    assert(countOf("kind") == 1 && countOf("src") == 1 && countOf("a") == 1)
  }

  test("connectedComponents matches driver union-find on random graphs") {
    import spark.implicits._
    // deterministic LCG-driven edge sets of varying density
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    for (seed <- Seq(7L, 1234L); m <- Seq(40, 300)) {
      var s = seed
      def next(mod: Int): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.floorMod(s >>> 17, mod).toLong }
      val edges = (0 until m).map(_ => (next(200), next(200))).filter(e => e._1 != e._2)
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(200, edges), s"seed=$seed m=$m")
    }
  }

  test("connectedComponents: 64-node path collapses to one star (log-round worst case)") {
    import spark.implicits._
    // a path graph maximizes diameter — naive min-label propagation needs
    // 64 rounds; the alternating star algorithm must stay well under the
    // round cap
    val chain = (0L until 63L).map(i => (i, i + 1))
    val cc = Dedup.connectedComponents(chain.toDF("doc_a", "doc_b")).collect()
    assert(cc.length == 64 && cc.forall(_.getLong(1) == 0L))
  }

  test("nearDupClusters: total over the corpus, keeper = min id, singletons csize 1") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cl = Dedup.nearDupClusters(docs, "doc_id", "text").cache()
    assert(cl.count() == docs.count()) // one row per doc
    // rep is the component minimum: no member smaller than its rep
    assert(cl.filter(col("doc") < col("rep")).count() == 0)
    // keeper iff doc == rep, exactly one keeper per cluster
    assert(cl.filter(col("keeper") =!= (col("doc") === col("rep"))).count() == 0)
    val perRep = cl.filter(col("keeper")).groupBy("rep").count()
    assert(perRep.filter(col("count") =!= 1).count() == 0)
    // clusters agree with the pair evidence: every pair endpoint shares a rep
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text")
    val reps = cl.select(col("doc"), col("rep"))
    val joined = pairs
      .join(reps.withColumnRenamed("doc", "doc_a").withColumnRenamed("rep", "ra"), Seq("doc_a"))
      .join(reps.withColumnRenamed("doc", "doc_b").withColumnRenamed("rep", "rb"), Seq("doc_b"))
    assert(joined.filter(col("ra") =!= col("rb")).count() == 0)
    cl.unpersist()
  }

  test("contamination: benchmark docs are fully self-contaminated, clean docs hit 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact copy of the benchmark doc
      (3L, "one two three four five six seven"),   // disjoint
      (4L, "x y alpha beta gamma z w")             // shares exactly one 3-shingle
    ).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 1L)
    val out = Curation.contamination(docs, "doc_id", "text", bench, "text", minHits = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._1 == out(1L)._2 && out(1L)._3)     // benchmark ⊆ itself
    assert(out(2L) == out(1L))                          // exact copy: same counts
    assert(out(3L)._2 == 0L && !out(3L)._3)             // disjoint: zero hits
    assert(out(4L)._2 == 1L && !out(4L)._3)             // one shared shingle < minHits
    // the broadcast must be in the executed plan (never a shuffle join
    // against the benchmark side)
    val plan = Curation.contamination(docs, "doc_id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    // ONE corpus pass (round-5 review): the shingle expression appears
    // exactly twice in the plan — once over the corpus, once over the
    // broadcast benchmark side — never a second corpus scan joined back
    val shingleCount = "TextKernels\\.shingleHashes\\(".r.findAllIn(plan).size
    assert(shingleCount == 2, s"expected 2 shingle computations, plan has $shingleCount")
  }

  test("quotaSample: per-key cap, deterministic ordering, skewed key bounded") {
    import spark.implicits._
    val rows = (0L until 500L).map(i => (i, if (i < 470) "big" else s"s${i % 5}", i * 7 % 101))
    val df = rows.toDF("doc_id", "source", "n_chars")
    val out = Curation.quotaSample(df, "source", "doc_id", "n_chars", quota = 5)
    val perKey = out.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey.values.forall(_ <= 5) && perKey("big") == 5)
    // determinism: same input, same keepers
    val a = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Curation.quotaSample(df, "source", "doc_id", "n_chars", quota = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    // the window form must carry the map-side partial group limit
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("tfidf top terms: hand-checked scores, rank determinism, partial top-k plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry durian"),
      (3L, "apple apple apple apple")
    ).toDF("doc_id", "text")
    val out = Curation.tfidfTopTerms(docs, "doc_id", "text", k = 2)
    val rows = out.collect().map(r => ((r.getLong(0), r.getString(1)),
      (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    // N=3; idf factor (N+1)/(df+1): apple df=2, banana df=2, cherry df=2,
    // durian df=1
    assert(rows((1L, "apple")) == ((2L, 2L, 2.0 * 4.0 / 3.0, 1L)))
    assert(rows((1L, "banana")) == ((1L, 2L, 4.0 / 3.0, 2L))) // word tiebreak over cherry
    assert(rows((2L, "durian")) == ((1L, 1L, 2.0, 2L)))
    assert(rows((2L, "cherry")) == ((2L, 2L, 2.0 * 4.0 / 3.0, 1L)))
    assert(rows((3L, "apple")) == ((4L, 2L, 4.0 * 4.0 / 3.0, 1L)))
    assert(rows.size == 5) // doc 3 has a single distinct term
    // per-doc cap holds and the window runs in rank+filter form with the
    // map-side partial group limit
    assert(out.groupBy("doc").count().collect().forall(_.getLong(1) <= 2))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
    // ONE corpus pass: the token explode appears exactly once — a
    // groupBy-df-join-back form made Catalyst scan the text twice.
    // (AQE's toString prints the Initial Plan after the Final Plan —
    // count only the executed section)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val explodes = "Generate explode".r.findAllIn(finalPlan).size
    assert(explodes == 1, s"expected 1 token explode, plan has $explodes:\n$finalPlan")
  }

  test("near-dup operators persist nothing: each twice-read frame is one reused exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("vec"))
    // (operator, its kernels' plan markers, frames it reads twice)
    val cases = Seq[(String, () => DataFrame, Seq[String], Int)](
      ("nearDupPairs", () => Dedup.nearDupPairs(docs, "doc_id", "text"),
        Seq("TextKernels.minhash("), 1),
      ("nearDupPairsExact", () => Dedup.nearDupPairsExact(docs, "doc_id", "text"),
        Seq("TextKernels.minhash(", "TextKernels.shingleHashes("), 2),
      ("embedNearDupPairs", () => Dedup.embedNearDupPairs(emb, dim = 64, bits = 8, tau = 0.3),
        Seq(" AS bucket#"), 1))
    def occurrences(plan: String, s: String) =
      plan.split(java.util.regex.Pattern.quote(s), -1).length - 1
    for ((name, build, kernels, twiceRead) <- cases) {
      spark.catalog.clearCache()
      val df = build()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name: building the plan persisted a frame")
      assert(df.collect().nonEmpty, s"$name: vacuous, no pairs")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name: the action persisted a frame")
      // the final AQE plan prints a reused exchange as one line, without
      // the subtree it reuses: each kernel shows once iff it runs once
      val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(finalPlan.contains("isFinalPlan=true"), s"$name: the plan did not run:\n$finalPlan")
      assert(occurrences(finalPlan, "ReusedExchange") == twiceRead,
        s"$name: expected $twiceRead reused exchange(s):\n$finalPlan")
      for (k <- kernels)
        assert(occurrences(finalPlan, k) == 1, s"$name: $k is not evaluated once:\n$finalPlan")
    }
  }

  test("footer row counts: exact, job-free for bare parquet scans; safe fallbacks") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // exact vs count(), including under a projection with expressions
    def exactRows(df: DataFrame) = graft.sources.PlanStats.exact(df).map(_.rows)
    assert(exactRows(docs).contains(docs.count()))
    val proj = docs.select(col("doc_id").as("vid"), (col("n_chars") * 2).as("x"))
    assert(exactRows(proj).contains(docs.count()))
    // count-changing plans must refuse (a filter makes footer counts wrong)
    assert(exactRows(docs.filter(col("doc_id") % 2 === 0)).isEmpty)
    assert(exactRows(docs.limit(3)).isEmpty)
    // non-file sources refuse
    import spark.implicits._
    assert(exactRows(Seq((1L, "x")).toDF("a", "b")).isEmpty)
    // tf-idf plan CONSTRUCTION launches zero Spark jobs on parquet input
    // (round-5 verdict #2: N used to cost a count() job before the query)
    val (built, jobs) = jobsDuring(Curation.tfidfTopTerms(docs, "doc_id", "text", k = 3))
    assert(jobs == 0, s"tfidf construction ran $jobs jobs; N must be footer-derived")
    assert(built.limit(1).count() >= 0) // still executable
    // DISTRIBUTED branch (round-6 verdict #6): past the file-count
    // threshold the count moves into a Spark job over the file list —
    // same exact number as the driver-pool branch
    val tmp = java.nio.file.Files.createTempDirectory("footers").toString
    docs.limit(10).repartition(3).write.mode("overwrite").parquet(s"$tmp/many")
    val many = spark.read.parquet(s"$tmp/many")
    val poolCount = graft.sources.PlanStats.exact(many)
    val distCount = graft.sources.PlanStats.exact(many, distributedThreshold = 1)
    assert(distCount == poolCount && distCount.map(_.rows).contains(many.count()),
      s"distributed footer count diverged: $distCount vs $poolCount")
  }

  test("spatial joins on seeded random data incl. polar clamp and antimeridian") {
    import spark.implicits._
    // one seeded corpus, edge-heavy: uniform world + clusters hugging the
    // ±85.05112 mercator clamp and the ±180 antimeridian
    val rnd = new scala.util.Random(20260817L)
    def lon() = rnd.nextInt(5) match {
      case 0 => -180.0 + rnd.nextDouble() * 0.5
      case 1 => 179.5 + rnd.nextDouble() * 0.5
      case _ => rnd.nextDouble() * 360.0 - 180.0
    }
    def lat() = rnd.nextInt(5) match {
      case 0 => 84.5 + rnd.nextDouble() * 5.0   // above the clamp too
      case 1 => -89.5 + rnd.nextDouble() * 5.0
      case _ => rnd.nextDouble() * 170.0 - 85.0
    }
    val pts = (0 until 400).map(i => (i.toLong, lon(), lat()))
      .toDF("pid", "lon", "lat")
    val boxes = (0 until 300).map { i =>
      val (x, y) = (lon(), lat()); val w = rnd.nextDouble() * 20.0
      (i.toLong, x, y, x + w, y + rnd.nextDouble() * 10.0)
    }.toDF("bid", "bminx", "bminy", "bmaxx", "bmaxy")
    // distance join vs naive, two zoom regimes (derived + explicit coarse)
    val qs2 = pts.limit(120).select(col("pid").as("qid"),
      col("lon").as("qlon"), col("lat").as("qlat"))
    val d2 = (col("qlon") - col("lon")) * (col("qlon") - col("lon")) +
      (col("qlat") - col("lat")) * (col("qlat") - col("lat"))
    val wantD = qs2.crossJoin(pts).filter(d2 <= 25.0)
      .select(col("qid"), col("pid"))
    for (z <- Seq(-1, 3)) {
      val gotD = SpatialJoin.distanceJoin(qs2, "qlon", "qlat",
          pts, "lon", "lat", radius = 5.0, z = z).select(col("qid"), col("pid"))
      assert(gotD.count() > 0, s"vacuous distance case at z=$z")
      assert(gotD.exceptAll(wantD).count() == 0 && wantD.exceptAll(gotD).count() == 0,
        s"distance join diverges on edge-heavy corpus at z=$z")
    }
    // extent join (boxes × boxes self, distinct col names) vs naive
    val a2 = boxes.select(col("bid").as("aid"), col("bminx").as("aminx"),
      col("bminy").as("aminy"), col("bmaxx").as("amaxx"), col("bmaxy").as("amaxy"))
    val wantE = a2.crossJoin(boxes).filter(
        col("aminx") <= col("bmaxx") && col("bminx") <= col("amaxx") &&
        col("aminy") <= col("bmaxy") && col("bminy") <= col("amaxy"))
      .select(col("aid"), col("bid"))
    for (z <- Seq(2, 7)) {
      val gotE = SpatialJoin.extentJoin(a2, "aminx", "aminy", "amaxx", "amaxy",
          boxes, "bminx", "bminy", "bmaxx", "bmaxy", z = z)
        .select(col("aid"), col("bid"))
      assert(gotE.count() > 0)
      assert(gotE.count() == gotE.distinct().count(),
        s"reporting-cell dedupe failed at z=$z (clamped corners?)")
      assert(gotE.exceptAll(wantE).count() == 0 && wantE.exceptAll(gotE).count() == 0,
        s"extent join diverges on edge-heavy corpus at z=$z")
    }
  }

  test("pipJoin enriches a streaming point feed against static polygons (parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.GeomFunctions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the same operator, left side a STREAM: Spark's stream-static inner
    // equi-join — geofencing-style enrichment with no operator changes
    // (z passed explicitly: a stream has no parquet footers to derive from)
    val regions = graft.sources.Synth.regions(spark, dir)
      .withColumn("poly", st_box_polygon(col("minx"), col("miny"), col("maxx"), col("maxy")))
    val pts = graft.sources.Synth.points(spark, dir)
      .select(col("pid"), col("lon"), col("lat")).limit(400)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val input = MemoryStream[(Long, Double, Double)]
    val sdf = input.toDF().toDF("pid", "lon", "lat")
    val out = SpatialJoin.pipJoin(sdf, "lon", "lat", regions, "region_id", "poly", z = 5)
      .select(col("pid"), col("region_id"))
    val q = out.writeStream.format("memory").queryName("pip_stream")
      .outputMode("append").start()
    try {
      input.addData(pts.take(250).toSeq); q.processAllAvailable()
      input.addData(pts.drop(250).toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pip_stream")
    val batch = SpatialJoin.pipJoin(
        pts.toSeq.toDF("pid", "lon", "lat"), "lon", "lat", regions, "region_id", "poly", z = 5)
      .select(col("pid"), col("region_id"))
    assert(batch.count() > 0, "vacuous: no point landed in a region")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "stream-static PIP enrichment diverges from the batch join")
  }

  test("image resize: non-integer ratio nearest-neighbor matches the pixel fn") {
    import spark.implicits._
    val ids = Seq(3L, 8L, 21L).toDF("doc_id")
    val pngs = Media.synthPng(spark, ids, "doc_id", w = 16, h = 16)
    // 16 -> 5 (non-integer ratio): sx = x*16/5 floor = 0,3,6,9,12
    val out = Media.resizePixels(spark, pngs, "media_id", "png", dw = 5, dh = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        ((r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(out.size == 3 * 25)
    for (id <- Seq(3L, 8L, 21L); x <- 0 until 5; y <- 0 until 5) {
      val want = Media.synthPixel(id, x * 16 / 5, y * 16 / 5)
      assert(out((id, x, y)) == want, s"pixel ($id,$x,$y)")
    }
    // poison blob skips, never throws
    val bad = Seq((99L, Array[Byte](1, 2, 3))).toDF("media_id", "png")
    assert(Media.resizePixels(spark, bad, "media_id", "png", 4, 4).count() == 0)
  }

  test("as-of join: at-or-before matching, pinned ties, one shuffle, no join") {
    import spark.implicits._
    // left: clicks at t; right: views. user 1 exercises before/at/ties;
    // user 2 has no prior view for its first click
    val l = Seq((100L, 1L, 10L), (101L, 1L, 20L), (102L, 2L, 5L), (103L, 2L, 30L))
      .toDF("event_id", "user_id", "t")
    val r = Seq(
      (900L, 1L, 10L, 1.0),  // AT click 100's time — must match (at-or-before)
      (901L, 1L, 10L, 2.0),  // same (user, t): larger view_id wins the tie
      (902L, 1L, 15L, 3.0),  // latest before click 101
      (903L, 2L, 25L, 4.0)   // after click 102, before click 103
    ).toDF("view_id", "user_id", "t", "view_value")
      .select(col("user_id"), col("t"), col("view_id"), col("view_value"))
    val out = AsOf.asofJoin(l, r, "user_id", "t", rightTieCol = "view_id")
    val got = out.collect().map(x => x.getAs[Long]("event_id") ->
      (Option(x.getAs[java.lang.Long]("view_id")).map(_.toLong),
       Option(x.getAs[java.lang.Double]("view_value")).map(_.toDouble))).toMap
    assert(got(100L) == ((Some(901L), Some(2.0))), s"tie rule: ${got(100L)}")
    assert(got(101L) == ((Some(902L), Some(3.0))))
    assert(got(102L) == ((None, None)), "no prior view must yield nulls")
    assert(got(103L) == ((Some(903L), Some(4.0))))
    // the scalable shape: ONE exchange (the key window), NO join operator
    out.count()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.toLowerCase.contains("join"), s"as-of must not plan a join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one exchange:\n$plan")
  }

  test("bounded-lookback as-of: horizon boundary inclusive, stale -> nulls, ties, one shuffle") {
    import spark.implicits._
    val l = Seq((100L, 1L, 100L), (101L, 1L, 200L), (102L, 2L, 50L))
      .toDF("event_id", "user_id", "t")
    val r = Seq(
      (900L, 1L, 90L, 1.0),   // gap 10 from click 100 — in a horizon of 10 (inclusive)
      (901L, 1L, 90L, 2.0),   // same (user, t): larger view_id wins the tie
      (902L, 1L, 189L, 3.0),  // gap 11 from click 101 — just OUTSIDE horizon 10
      (903L, 2L, 49L, 4.0)    // gap 1 from click 102 — fresh
    ).toDF("view_id", "user_id", "t", "view_value")
      .select(col("user_id"), col("t"), col("view_id"), col("view_value"))
    val out = AsOf.asofJoinWithin(l, r, "user_id", "t", rightTieCol = "view_id",
      horizon = 10L)
    val got = out.collect().map(x => x.getAs[Long]("event_id") ->
      (Option(x.getAs[java.lang.Long]("view_id")).map(_.toLong),
       Option(x.getAs[java.lang.Double]("view_value")).map(_.toDouble))).toMap
    assert(got(100L) == ((Some(901L), Some(2.0))),
      s"boundary gap == horizon must match, ties by view_id: ${got(100L)}")
    assert(got(101L) == ((None, None)),
      s"gap horizon+1 must read as missing, not stale: ${got(101L)}")
    assert(got(102L) == ((Some(903L), Some(4.0))))
    // horizon 0 keeps only exact-time matches
    val r0 = Seq((1L, 100L, 900L, 1.0)).toDF("user_id", "t", "view_id", "view_value")
    val h0 = AsOf.asofJoinWithin(l, r0, "user_id", "t", "view_id", horizon = 0L)
      .collect().map(x => x.getAs[Long]("event_id") ->
        Option(x.getAs[java.lang.Long]("view_id")).map(_.toLong)).toMap
    assert(h0(100L).contains(900L) && h0(101L).isEmpty)
    // still the union-window shape: ONE exchange, NO join operator
    out.count()
    val plan2 = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan2.toLowerCase.contains("join"), s"lookback as-of must not plan a join:\n$plan2")
    assert("Exchange hashpartitioning".r.findAllIn(plan2).size == 1,
      s"expected exactly one exchange:\n$plan2")
    // timestamp time column: horizon in microseconds via unix_micros
    val lt = l.withColumn("t", timestamp_micros(col("t") * 1000000L))
    val rt = r.withColumn("t", timestamp_micros(col("t") * 1000000L))
    val gt = AsOf.asofJoinWithin(lt, rt, "user_id", "t", "view_id",
        horizon = 10000000L) // 10 s
      .collect().map(x => x.getAs[Long]("event_id") ->
        Option(x.getAs[java.lang.Long]("view_id")).map(_.toLong)).toMap
    assert(gt(100L).contains(901L) && gt(101L).isEmpty && gt(102L).contains(903L))
  }

  test("as-of horizon on TimestampNTZ is session-zone independent across a DST transition") {
    import spark.implicits._
    // round-6 advice: casting NTZ through TimestampType embeds the
    // session-zone offset AT EACH VALUE — across the US spring-forward
    // (2024-03-10 02:00 local skips to 03:00) the left row (EDT) and the
    // matched right row (EST) would carry offsets an hour apart, making a
    // 90-minute wall-clock gap read as 30 minutes. The wall-clock delta
    // between 01:30 and 03:00 is 90 min = 5_400_000_000 µs and must be
    // the horizon semantics in EVERY session zone.
    val savedTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val right = Seq((1L, "2024-03-10 01:30:00", 900L, 7.0))
        .toDF("user_id", "ts", "view_id", "view_value")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val left = Seq((100L, 1L, "2024-03-10 03:00:00"))
        .toDF("event_id", "user_id", "ts")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      def matched(horizon: Long): Long =
        AsOf.asofJoinWithin(left, right, "user_id", "ts", "view_id", horizon)
          .filter(col("view_id").isNotNull).count()
      assert(matched(5400000000L) == 1L, "gap == horizon (90 min wall) must match")
      assert(matched(5399999999L) == 0L,
        "gap 90 min wall must NOT fit a sub-90-min horizon — the old " +
        "session-zone cast read it as 30 min and matched")
    } finally spark.conf.set("spark.sql.session.timeZone", savedTz)
  }

  test("mixtureSample: exact integer ratios; a demanded-but-absent domain forces an empty keep") {
    import spark.implicits._
    val docs = ((1L to 40L).map(i => (i, "a")) ++ (101L to 120L).map(i => (i, "b")))
      .toDF("doc_id", "src")
    // weights 2:1 over (a: 40, b: 20): T = min(40*3/2, 20*3/1) = 60,
    // keep a = 2*60/3 = 40, keep b = 1*60/3 = 20 — the whole corpus
    val full = Curation.mixtureSample(docs, "src", "doc_id", Map("a" -> 2L, "b" -> 1L))
    assert(full.filter(col("src") === "a").count() == 40 &&
      full.filter(col("src") === "b").count() == 20)
    // weights 1:1: T = min(40*2/1, 20*2/1) = 40 → 20 of each, exact ratio
    val even = Curation.mixtureSample(docs, "src", "doc_id", Map("a" -> 1L, "b" -> 1L))
    assert(even.filter(col("src") === "a").count() == 20 &&
      even.filter(col("src") === "b").count() == 20)
    // round-6 advice: demanding a domain with ZERO rows cannot be
    // satisfied at any T > 0 — the output must be empty, not a silently
    // c-free mixture over the remaining domains
    val absent = Curation.mixtureSample(docs, "src", "doc_id",
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    assert(absent.count() == 0,
      "absent weighted domain must force T = 0 (exact-mixture contract)")
  }

  test("exact quantiles, hash sample, int8 quantize: hand-checked semantics") {
    import spark.implicits._
    // percentile_disc: value at rank ceil(q*n); n=4 -> q=.5 picks rank 2
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L), (4L, "a", 40L),
                 (5L, "b", 7L)).toDF("doc_id", "source", "n_chars")
    val qs = Curation.exactQuantiles(df, "source", "n_chars", "doc_id", Seq(0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(qs == Map(("a", 0.5) -> 20L, ("a", 1.0) -> 40L,
                     ("b", 0.5) -> 7L, ("b", 1.0) -> 7L))
    // integer-rank boundary (round-5 advice): q=0.01, n=300 — the double
    // product 0.01*300 = 3.0000000000000004, so float ceil picks rank 4;
    // percentile_disc says rank 3 exactly
    val df300 = (1L to 300L).map(i => (i, "c", i * 10)).toDF("doc_id", "source", "n_chars")
    val q01 = Curation.exactQuantiles(df300, "source", "n_chars", "doc_id", Seq(0.01))
      .collect().map(r => r.getLong(2)).toSeq
    assert(q01 == Seq(30L), s"q=0.01 over n=300 must pick rank 3 (value 30), got $q01")
    // hash sample: deterministic keep-set, unchanged by partitioning;
    // fraction 0 and 1 are the empty and identity samples
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val s1 = Curation.hashSample(docs, "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val s2 = Curation.hashSample(docs.repartition(13), "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(s1 == s2 && s1.nonEmpty && s1.size < docs.count())
    assert(Curation.hashSample(docs, "doc_id", 0.0).count() == 0)
    assert(Curation.hashSample(docs, "doc_id", 1.0).count() == docs.count())
    // negative ids hash into [0, p) like any other id (round-5 advice:
    // Spark's % kept the sign, so every negative id passed at fraction 0)
    val negs = (-2000L to -1L).map(i => (i, "n", 1L)).toDF("doc_id", "source", "n_chars")
    assert(Curation.hashSample(negs, "doc_id", 0.0).count() == 0)
    val negKept = Curation.hashSample(negs, "doc_id", 0.25).count()
    assert(negKept > 0 && negKept < 2000,
      s"negative ids must sample ~fraction, got $negKept/2000")
    // int8 quantize: range bound, zero-vector guard, dequantize error
    // within mx/254 per component (half-ULP of the 127-step grid)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q8 = Ann.quantizeInt8(emb, "vec_id", "embedding")
    assert(q8.filter(abs(col("qv")) > 127).count() == 0)
    val back = q8.join(
        emb.select(col("vec_id"), posexplode(col("embedding").cast("array<double>"))
          .as(Seq("idx", "x"))), Seq("vec_id", "idx"))
      .withColumn("err", abs(col("qv") * col("mx") / 127.0 - col("x")))
      .filter(col("err") > col("mx") / 254.0 + lit(1e-12))
    assert(back.count() == 0, "dequantization error exceeds half a grid step")
    val zv = Ann.quantizeInt8(Seq((9L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(zv.filter(col("qv") =!= 0).count() == 0)
  }

  test("repetitionSignals: crafted fractions exact, edge docs well-defined") {
    import spark.implicits._
    val docs = Seq(
      // 4 tokens, 3 types; 2-grams: "b b","b c","c b" (3 distinct, one each
      // after tie rule: top = "c b" lex-largest among count-1 ties);
      // 3-grams all distinct -> dup3 = 0
      (1L, "b b c b"),
      // "x x x x": 4 tokens 1 type; 2-grams "x x"×3 -> top2 = 3*3/9;
      // 3-grams "x x x"×2 -> dup3 = 2*5/10
      (2L, "x x x x"),
      (3L, "solo"),          // 1 token: no grams -> null fracs
      (4L, "  "),            // no tokens -> all null
      (5L, "Aa aA")          // lowercased -> 1 type, dup_word_frac 0.5
    ).toDF("doc_id", "text")
    val out = Curation.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def d(id: Long, i: Int) = if (out(id).isNullAt(i)) Double.NaN else out(id).getDouble(i)
    assert(out(1).getLong(1) == 4 && out(1).getLong(2) == 2)
    assert(d(1, 3) == 0.5)
    assert(d(1, 4) == 3.0 / 9.0)   // "c b" (or any 1-count gram) 3 chars of 9
    assert(d(1, 5) == 0.0)
    assert(d(2, 3) == 0.75 && d(2, 4) == 1.0 && d(2, 5) == 1.0)
    assert(out(3).getLong(1) == 1 && d(3, 3) == 0.0 && d(3, 4).isNaN && d(3, 5).isNaN)
    assert(out(4).getLong(1) == 0 && d(4, 3).isNaN)
    assert(d(5, 3) == 0.5)
  }

  test("redactPii: counts and pass order pinned, clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@ex.co and x@y.org end"),
      (2L, "ip 10.0.0.1 then 255.255.255.255"),
      // the IP inside the email domain is swallowed by the email redaction
      // and must not be counted as an IP
      (3L, "mixed root@10.1.2.3.com plus bare 192.168.0.1"),
      (4L, "no pii here 1.2 not.an.ip 1234.5.6.7x")
    ).toDF("doc_id", "text")
    val out = Curation.redactPii(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1).getLong(1) == 2 && out(1).getLong(2) == 0)
    assert(out(1).getString(3) == "mail <EMAIL> and <EMAIL> end")
    assert(out(2).getLong(1) == 0 && out(2).getLong(2) == 2)
    assert(out(2).getString(3) == "ip <IP> then <IP>")
    assert(out(3).getLong(1) == 1 && out(3).getLong(2) == 1)
    assert(out(3).getString(3) == "mixed <EMAIL> plus bare <IP>")
    assert(out(4).getLong(1) == 0 && out(4).getLong(2) == 0)
    assert(out(4).getString(3) == "no pii here 1.2 not.an.ip 1234.5.6.7x")
  }

  test("stratifiedSplit: exact floor proportions per stratum, deterministic, total") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val splits = Seq("train" -> 8L, "val" -> 1L, "test" -> 1L)
    val out = Curation.stratifiedSplit(docs, "source", "doc_id", splits)
    assert(out.count() == 1000)
    val counts = out.groupBy("source", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (s <- Seq("s0", "s1", "s2")) {
      val n = docs.filter(col("source") === s).count()
      assert(counts((s, "train")) == n * 8 / 10)
      assert(counts((s, "val")) == n * 9 / 10 - n * 8 / 10)
      assert(counts((s, "test")) == n - n * 9 / 10)
    }
    // rerun under a different partitioning -> identical assignment
    val again = Curation.stratifiedSplit(docs.repartition(7), "source", "doc_id", splits)
    assert(out.select("doc_id", "split").except(again.select("doc_id", "split")).count() == 0)
    // one-split degenerate: everything lands in it
    assert(Curation.stratifiedSplit(docs, "source", "doc_id", Seq("all" -> 1L))
      .filter(col("split") =!= "all").count() == 0)
  }
}
