package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Slippy
import graft.operators.Knn

/** The kNN fallback must never pay for the full points corpus beyond one
  * map-only scan: an uncertified query whose bound disc fits its 3×3
  * block at z−2 joins only the points of those cells (a broadcast cell
  * join, the points never shuffled), and the rest pair with every point
  * in the same join, bounded by the same disc. Exactness is gated against
  * unconditional brute force on inputs CRAFTED to drive every fallback
  * path (sparse cells at a deep z, boundary-clamped latitudes).
  */
class KnnPruneSpec extends AnyFunSuite with KnnFixtures {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sparsePts = toPoints(sparseRows)

  /** uncertified queries as the fallback receives them */
  private def open(rows: (Long, Double, Double, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("qid", "qlon", "qlat", "bound_d2")
  }

  test("fallback chain stays exact on sparse + boundary-clamped inputs") {
    val pts = sparsePts
    val qs = queriesOf(pts, 3)
    // deep z => ~every query uncertified at the grid level
    val got = Knn.knnJoin(qs, pts, k = 3, z = 10)
    val want = bruteKnn(qs, pts, 3)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "pruned fallback diverges from brute force")
  }

  // the level-2 scan is the disc route of the fallback join: a query whose
  // bound disc fits its 3×3 block at z−2 pairs only with the points of
  // those cells, read map-only from the parquet source. The name predates
  // the disc join; the pruning is by cell key in a broadcast join, and no
  // range predicate reaches the parquet reader
  test("level-2 scan prunes to the query cells and pushes range filters to parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("knnprune").toString
    sparsePts.write.mode("overwrite").parquet(s"$tmp/pts.parquet")
    val pts = spark.read.parquet(s"$tmp/pts.parquet")
    val z = 4
    // two discs that fit (radius 0.1 degree) and one unbounded query (fewer
    // than k candidates), which must take the brute route instead
    val qs = open((1L, 10.0, 20.0, 0.01), (2L, -60.0, -30.0, 0.01),
      (3L, 100.0, 10.0, Double.PositiveInfinity))
    val pairs = Knn.fallbackPairs(qs, pts, z)
    // row-level evidence: exactly the points whose cell is in each fitting
    // query's 3×3 neighborhood — computed independently
    def cellMembers(qlon: Double, qlat: Double) = {
      val (qtx, qty) = (Slippy.lon2Num(z, qlon), Slippy.lat2Num(z, qlat))
      sparseRows.filter { case (_, lon, lat) =>
        math.abs(Slippy.lon2Num(z, lon) - qtx) <= 1 && math.abs(Slippy.lat2Num(z, lat) - qty) <= 1
      }.map(_._1).toSet
    }
    val got = pairs.select("qid", "pid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    for ((qid, qlon, qlat) <- Seq((1L, 10.0, 20.0), (2L, -60.0, -30.0))) {
      val want = cellMembers(qlon, qlat)
      assert(want.nonEmpty && want.size < sparseRows.size, s"vacuous premise for query $qid")
      assert(got.getOrElse(qid, Set.empty) == want, s"query $qid: disc-join cell membership wrong")
    }
    assert(got(3L) == sparseRows.map(_._1).toSet, "the unbounded query must pair with every point")
    // plan-level evidence: the query side is broadcast and the points side
    // carries no Exchange (string match: the executedPlan root is
    // AdaptiveSparkPlanExec, whose TreeNode.collect does not descend)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected a broadcast cell join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the disc join must not shuffle the points:\n$plan")
  }

  test("prune plan construction launches no Spark jobs (collect barrier gone)") {
    val pts = sparsePts
    import spark.implicits._
    val qs = Seq((1L, 10.0, 20.0), (2L, -60.0, -30.0)).toDF("qid", "qlon", "qlat")
    spark.catalog.clearCache() // other suites in this session may cache
    // building the whole operator (grid level + disc + brute fallback)
    // must be lazy and persist nothing
    val (df, jobs) = jobsDuring(Knn.knnJoin(qs, pts, k = 3, z = 10))
    assert(jobs == 0, s"plan construction ran $jobs Spark job(s) — a collect barrier is back")
    assert(spark.sharedState.cacheManager.isEmpty, "kNN persisted a frame")
    // and the plan still computes the exact result once acted on
    val want = bruteKnn(qs, pts, 3)
    assert(df.exceptAll(want).count() == 0 && want.exceptAll(df).count() == 0)
  }

  test("boundary cells leave their range side OPEN (clamped coords survive)") {
    val pts = sparsePts
    // query next to the north-clamp row: its 3×3 set includes ty=0, so
    // pid 200 (lat 89, clamped into row 0) must reach the disc join
    val z = 6
    val ty = Slippy.lat2Num(z, 84.9)
    assume(ty <= 1, s"test premise: query near row 0, got ty=$ty")
    val ids = Knn.fallbackPairs(open((1L, 12.1, 84.9, 0.01)), pts, z)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(ids.size < sparseRows.size, "premise: the query must take the disc route")
    assert(ids.contains(200L), s"clamped-lat point lost by the disc join: $ids")
  }

  test("empty uncertified set collapses the fallback scan to nothing") {
    val joined = Knn.fallbackPairs(open(), sparsePts, 8)
    assert(joined.count() == 0)
    // statically empty: no file scan survives optimization
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("LocalRelation") || optimized.contains("Empty"),
      s"empty disc join should fold to an empty relation:\n$optimized")
  }
}
