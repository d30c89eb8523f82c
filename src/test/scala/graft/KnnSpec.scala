package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Knn

/** walks executed plans through AQE query stages */
private object PlanNodes extends AdaptiveSparkPlanHelper

/** kNN as one compact plan: exact against brute force on every shape
  * that reaches a different path, no jobs or persists at build time, a
  * bounded job count per action, and exact with AQE turned off.
  */
class KnnSpec extends AnyFunSuite with KnnFixtures {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def assertExact(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(g == w, s"$what: ${g.size} rows vs brute force ${w.size}; " +
      s"first difference ${g.diff(w).headOption} / ${w.diff(g).headOption}")
  }

  test("exactness matrix: k in {1,3,8}, ties, repeated rows, polar/antimeridian, all uncertified") {
    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    // (name, rows, z, query stride): the field at z=8 mixes certified, disc
    // and brute queries and carries duplicate coordinates; the sparse
    // scatter at z=10 leaves every query uncertified, and its copy with
    // repeated identical rows sends duplicated queries down the fallback
    val repeated = sparseRows ++ sparseRows.filter(_._1 % 4 == 0)
    val cases = Seq(("field+dups", fieldRows, 8, 7), ("sparse", sparseRows, 10, 2),
      ("sparse+repeated rows", repeated, 10, 2))
    for ((name, rows, z, stride) <- cases; k <- Seq(1, 3, 8)) {
      val pts = toPoints(rows)
      val qs = queriesOf(pts, stride)
      val qids = rows.map(_._1).filter(_ % stride == 0)
      val r = routes(qids, rows, k, z)
      r.foreach { case (path, n) => seen(path) += n }
      if (name.startsWith("sparse"))
        assert(!r.contains("certified"),
          s"premise: sparse at z=$z must leave every query uncertified, got $r")
      info(s"$name k=$k z=$z paths $r")
      assertExact(Knn.knnJoin(qs, pts, k, z), bruteKnn(qs, pts, k), s"$name k=$k")
    }
    assert(seen("certified") > 0 && seen("disc") > 0 && seen("brute") > 0,
      s"the matrix must drive all three paths: $seen")
  }

  test("fewer than k points in the corpus: every query keeps all the others") {
    val rows = Seq((1L, 0.0, 0.0), (2L, 0.5, 0.5), (3L, 0.5, 0.5), (4L, -170.0, 80.0))
    val pts = toPoints(rows)
    val qs = queriesOf(pts, 1)
    val got = Knn.knnJoin(qs, pts, k = 8, z = 6)
    assert(got.count() == 4 * 3)
    assertExact(got, bruteKnn(qs, pts, 8), "k=8 over 4 points")
  }

  test("explicit z <= 3 runs only the brute fallback and stays exact") {
    val pts = toPoints(sparseRows)
    val qs = queriesOf(pts, 4)
    for (z <- 0 to 3; k <- Seq(1, 3)) {
      assert(!routes(sparseRows.map(_._1).filter(_ % 4 == 0), sparseRows, k, z).contains("disc"))
      assertExact(Knn.knnJoin(qs, pts, k, z), bruteKnn(qs, pts, k), s"z=$z k=$k")
    }
  }

  test("an empty query set yields an empty result") {
    val pts = toPoints(fieldRows)
    val qs = queriesOf(pts, 1).filter(lit(false))
    assert(Knn.knnJoin(qs, pts, k = 3, z = 8).count() == 0)
    assert(Knn.knnJoin(qs, pts, k = 3).count() == 0)
  }

  test("q12 and q21: zero jobs and zero persists to build, at most 8 jobs per action") {
    // whatever the source read runs (no job: the test tables are read
    // with their declared schemas), the kNN operator may add none to it
    val (_, readJobs) = jobsDuring(graft.sources.Synth.points(spark, dir))
    for (q <- Seq("q12_knn", "q21_knn_cell")) {
      spark.catalog.clearCache() // other suites in this session may cache
      val (df, buildJobs) = jobsDuring(SparkEntry.queries(q)(spark, dir))
      assert(buildJobs == readJobs,
        s"$q: building the plan ran $buildJobs job(s), the source read alone $readJobs")
      assert(spark.sharedState.cacheManager.isEmpty, s"$q: the plan persisted a frame")
      // the grid level feeds both the certified rows and the fallback
      // bounds: its two copies' qid exchanges (over the candidates ∪
      // sentinels union) must be identical, so AQE runs one and reuses it
      def unionBelow(p: SparkPlan): Boolean = p match {
        case _: UnionExec => true
        case _: Exchange => false
        case o => o.children.exists(unionBelow)
      }
      val levelExchanges = PlanNodes.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if unionBelow(e.child) => e.canonicalized
      }
      val (copies, distinct) = (levelExchanges.size, levelExchanges.distinct.size)
      assert(copies == 2 && distinct == 1,
        s"$q: the level's exchanges are not shared: $copies copies, $distinct distinct")
      val (_, actionJobs) = jobsDuring(df.write.format("noop").mode("overwrite").save())
      info(s"$q: $actionJobs jobs per action")
      assert(actionJobs <= 8, s"$q: one action ran $actionJobs jobs")
    }
  }

  test("AQE off: q21-shaped input stays exact (hostile shape)") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val pts = graft.sources.Synth.points(spark, dir).select(col("pid"), col("lon"), col("lat"))
      val qs = pts
        .filter(col("lon") >= -30 && col("lon") <= 30 && col("lat") >= 0 && col("lat") <= 40)
        .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
      val got = Knn.knnJoin(qs, pts, k = 3)
      val (_, jobs) = jobsDuring(got.write.format("noop").mode("overwrite").save())
      info(s"AQE off: $jobs jobs per action")
      assertExact(got, bruteKnn(qs, pts, 3), "q21 with AQE off")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
