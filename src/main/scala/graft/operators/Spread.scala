package graft.operators

import org.apache.spark.sql.DataFrame

/** Kernel-stage parallelism guard (round 7; guide §2.5/§6 input-split
  * sizing): when a frame's scan yields FEWER splits than cores, a heavy
  * per-row kernel chain (WKT parse, makevalid, candidate-join probe,
  * command encode) runs on those few tasks while the rest of the machine
  * idles — the round-7 stage logs showed the q21 candidate stage at
  * 3 tasks / 12.9 s CPU on a 32-core host. One conditional round-robin
  * redistribution before the kernels fixes that; on a real cluster the
  * scan carries ≫ cores splits and the CONDITION (not the repartition)
  * is what survives the 100× scale-up — the exchange never fires there.
  *
  * The one spread decision: the SparkEntry gates, Knn, SpatialJoin,
  * Curation, Dedup and DocsTable all call it.
  */
object Spread {

  def forKernels(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch sizing is the stream's job
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // a frame that already carries an explicit repartition (its own
    // spread, or a caller's keyed redistribution) is already at kernel
    // width — re-spreading would pay a SECOND exchange of the (possibly
    // much wider) generated columns for nothing
    val alreadyRepartitioned = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.isDefined
    if (alreadyRepartitioned) return df
    // metadata-only split estimate (NO JOB — the frame's RDD is off-limits
    // here: under AQE, building it materializes every query stage in the
    // subtree, i.e. runs Spark jobs at plan-build time)
    if (graft.sources.PlanStats.scanSplits(df) < cores) df.repartition(cores) else df
  }
}
