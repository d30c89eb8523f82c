package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Automated plan audit across every gate query: the plan properties the
  * per-round manual `.explain` reviews checked by hand, held by CI.
  *
  * - CartesianProductExec is forbidden everywhere (a cartesian at 10^12
  *   rows is a non-plan; every operator was designed around an equi-key).
  * - BroadcastNestedLoopJoin is allowed ONLY where it is the design: the
  *   kNN/ANN brute-force paths broadcast a provably-small query side
  *   against a non-equi condition (qid =!= pid / top-k verify). Anywhere
  *   else it means an equi-join key was lost.
  * - No plan reads a persisted frame (InMemoryRelation): a frame read
  *   twice sits behind one exchange that AQE reuses.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** queries whose DESIGN includes a broadcast non-equi join (brute-force
    * kNN remainder / ANN exact baseline over a bounded query set).
    */
  private val bnljByDesign = Set(
    "q12_knn", "q21_knn_cell", "q23_ann_cosine", "q34_ann_lsh", "q40_ann_ivf")

  test("no cartesian products; nested-loop joins only where designed") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    // suites sharing this session cache their own frames (SparkEntrySpec
    // caches the docs table), which Spark would substitute into these plans
    spark.catalog.clearCache()
    for ((name, q) <- SparkEntry.queries) {
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign.contains(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      if (plan.contains("InMemoryRelation"))
        offenders += s"$name: reads a persisted frame"
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("parquet scans are column-pruned (no SELECT * plans over lineitem)") {
    // lineitem is the wide fact table; every query derives a handful of
    // columns. A scan whose ReadSchema carries the full 16-column TPC-H
    // row means pruning broke.
    val wide = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, q) <- SparkEntry.queries) {
      val formatted = q(spark, dir).queryExecution.executedPlan.toString
      val scans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(formatted).map(_.group(1))
      scans.foreach { cols =>
        val n = if (cols.trim.isEmpty) 0 else cols.split(",").length
        if (n > 8) wide += s"$name: scan reads $n columns"
      }
    }
    assert(wide.isEmpty, wide.mkString("; "))
  }
}
