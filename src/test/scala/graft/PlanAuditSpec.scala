package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
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
  * - No graft expression is a CodegenFallback: each one runs inside
  *   whole-stage codegen.
  * - No kernel work sits below a spread: a round-robin exchange exists to
  *   run the kernels at one task per core, so a graft kernel call, a
  *   string build or an array build under it runs on the few scan tasks
  *   instead (a filter pushed through the spread drags them there).
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
      val qe = q(spark, dir).queryExecution
      val plan = qe.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign.contains(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      if (plan.contains("InMemoryRelation"))
        offenders += s"$name: reads a persisted frame"
      // the pre-AQE physical plan: executedPlan is a leaf AdaptiveSparkPlanExec
      val fallbacks = qe.sparkPlan.flatMap(_.expressions.flatMap(_.collect {
        // graft's expressions: graft.* and the generic ones in Spark's package
        case e: CodegenFallback
            if e.getClass.getName.matches("(org\\.apache\\.spark\\.sql\\.)?graft\\..*") =>
          e.prettyName
      }))
      if (fallbacks.nonEmpty)
        offenders += s"$name: ${fallbacks.distinct.mkString(", ")} fall back from codegen"
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

  test("no kernel call, string or array build below a round-robin spread") {
    import org.apache.spark.sql.catalyst.expressions.{Concat, CreateArray}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.catalog.clearCache()
    val offenders = for {
      (name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)
      spread <- q(spark, dir).queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }
      work = spread.child.flatMap(_.expressions.flatMap(_.collect {
        case k: StaticInvoke if k.staticObject.getName.startsWith("graft.") => k.functionName
        case _: Concat => "concat"
        case _: CreateArray => "array"
      })).distinct
      if work.nonEmpty
    } yield s"$name: ${work.mkString(", ")}"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
