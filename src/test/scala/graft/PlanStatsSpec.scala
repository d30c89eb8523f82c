package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GeomFunctions._
import graft.operators.{Knn, SpatialJoin, Spread}
import graft.sources.{PlanStats, Synth}

/** Plan-time decisions read from `PlanStats`: which fire at which frame
  * shape, that reading them launches no Spark job, and the two hostile
  * shapes the estimates must survive (stats overflow, wide payloads).
  */
class PlanStatsSpec extends AnyFunSuite with KnnFixtures {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** runs `body` with Catalyst's own broadcast thresholds off, so only the
    * operators' footer gate can pick a broadcast plan */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    saved.foreach { case (k, _) => conf.set(k, "-1") }
    try body finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("decisions per frame shape: split estimate, spread, zoom, broadcast gate; zero jobs") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    val pts = Synth.points(spark, dir).select(col("pid"), col("lon"), col("lat"))
    // the >= cores-file scan is written BEFORE the job listener attaches
    val tmp = java.nio.file.Files.createTempDirectory("planstats").toString
    pts.repartition(cores).write.parquet(s"$tmp/split")
    val split = spark.read.parquet(s"$tmp/split")
    val local = (0L until 1000L).map(i => (i, i * 0.1, i * 0.05)).toDF("pid", "lon", "lat")

    case class Decision(splits: Long, spread: Boolean, zoom: Int, small: Boolean)
    def decide(df: DataFrame) = Decision(PlanStats.scanSplits(df),
      Spread.forKernels(df) ne df, Knn.zoomForPlan(df), SpatialJoin.provablySmall(df))
    val (got, jobs) = jobsDuring(Seq(
      "1-file scan" -> decide(pts),
      "cores-file scan" -> decide(split),
      "filtered scan" -> decide(pts.filter(col("pid") % 2 === 0)),
      "LocalRelation" -> decide(local),
      "repartitioned" -> decide(pts.repartition(8))))
    assert(jobs == 0, s"plan-time decisions ran $jobs Spark job(s)")
    // 6000 lineitem rows: zoomFor(6000) = ceil(log4(6000 / 15)) = 5
    assert(got.toMap == Map(
      "1-file scan" -> Decision(1, spread = true, 5, small = true),
      // the spread does not fire once the scan has >= cores splits
      "cores-file scan" -> Decision(4, spread = false, 5, small = true),
      // a filter keeps the footer-based zoom but is no broadcast proof
      "filtered scan" -> Decision(1, spread = true, 5, small = false),
      // LocalRelation stats carry the row count: zoomFor(1000) = 4
      "LocalRelation" -> Decision(0, spread = true, 4, small = false),
      // an explicit repartition is already at kernel width
      "repartitioned" -> Decision(1, spread = false, 5, small = false)))
    // the two row contracts on the same scans
    assert(PlanStats.exact(pts).map(_.rows).contains(6000L))
    assert(PlanStats.exact(split).map(_.rows).contains(6000L))
    assert(PlanStats.exact(pts.filter(col("pid") % 2 === 0)).isEmpty)
    assert(PlanStats.estimatedRows(pts.filter(col("pid") % 2 === 0)) == 6000L)
    assert(PlanStats.estimatedRows(local) == 1000L)
  }

  test("spread split estimate clamps a stats-overflowing cross join instead of wrapping") {
    // two non-file frames whose size estimates multiply past Long range:
    // 2^46 × 2^46 bytes / 2^27 maxPartitionBytes = 2^65 splits, which a
    // plain BigInt.toLong wraps to 0 — and 0 < cores would spread it
    val n = 1L << 43
    val x = spark.range(n).toDF("a").crossJoin(spark.range(n).toDF("b"))
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    assert(x.queryExecution.optimizedPlan.stats.sizeInBytes / maxPart > BigInt(Long.MaxValue),
      "vacuous: the cross join's size estimate does not overflow")
    assert(Spread.forKernels(x) eq x, "stats-inflated plan was spread (split estimate wrapped)")
    assert(PlanStats.scanSplits(x) == Long.MaxValue)
  }

  test("broadcast gate bounds bytes: a few-row polygon side with a wide payload takes the shuffle plan") {
    import spark.implicits._
    val regions = Synth.regions(spark, dir)
      .withColumn("poly", st_box_polygon(col("minx"), col("miny"), col("maxx"), col("maxy")))
    // 25 rows (far under the row limit) carrying 200 kB of incompressible
    // payload each: 5 MB × (cover cap + 1) is past the ~200 MB budget
    val rnd = new scala.util.Random(7)
    val wideRows = regions.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getAs[Array[Byte]]("poly"),
      Array.fill(200000)(rnd.nextInt().toByte)))
    val tmp = java.nio.file.Files.createTempDirectory("widepolys").toString
    wideRows.toDF("region_id", "minx", "miny", "maxx", "maxy", "poly", "payload")
      .coalesce(1).write.parquet(s"$tmp/wide")
    val wide = spark.read.parquet(s"$tmp/wide")
    val footer = PlanStats.exact(wide).get
    assert(footer.rows == 25L)
    assert(footer.bytes * (SpatialJoin.DefaultCoverCap + 1) >
      SpatialJoin.BroadcastRowLimit * SpatialJoin.DefaultCoverCap * 48L,
      s"vacuous: ${footer.bytes} footer bytes fit the broadcast budget")
    assert(!SpatialJoin.provablySmall(wide))
    val pts = Synth.points(spark, dir)
    withoutAutoBroadcast {
      val got = SpatialJoin.pipJoin(pts, "lon", "lat", wide, "region_id", "poly", z = 5)
        .select(col("pid"), col("region_id"))
      val want = SpatialJoin.pipJoin(pts, "lon", "lat", regions, "region_id", "poly", z = 5)
        .select(col("pid"), col("region_id"))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "wide-payload shuffle plan diverges from the narrow broadcast plan")
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), s"wide side was broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join on the cell key:\n$plan")
    }
  }
}
