package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Deterministic listener drain for metric probes (BenchExtra, the
  * benchmark harness, the specs' job counters): `SparkContext.listenerBus` is
  * `private[spark]`, so this one-line accessor lives in an
  * org.apache.spark subpackage. `LiveListenerBus.waitUntilEmpty` itself
  * is public API — this replaces the racy Thread.sleep drain the round-4
  * advisor flagged (events post asynchronously; a fixed sleep can miss
  * them under load).
  */
object ListenerDrain {
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}

/** Serializable Hadoop-configuration carrier for the distributed footer
  * count (PlanStats.exact): tasks need the session's Hadoop conf (FS
  * credentials, endpoints) but `Configuration` is not serializable and
  * Spark's own wrapper `org.apache.spark.util.SerializableConfiguration`
  * is `private[spark]` — hence this shim.
  */
object HadoopConf {
  def serializable(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(conf)
}
