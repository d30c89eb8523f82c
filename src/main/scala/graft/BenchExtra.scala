package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Round-7 measurement harness (guide §1) — NOT the driver bench.
  * `Bench.scala` is frozen; this main exists so optimization work can be
  * measured with more signal than one wall-clock number:
  *
  *   - per-query repeats (min + all samples) through the same noop sink,
  *   - per-query JOB COUNT (driver barriers show up as extra serialized
  *     jobs before the main action),
  *   - shuffle bytes/records, scan records, spill, GC time from a stage
  *     listener.
  *
  * usage: SPARK_GRAFT_BENCH_ONLY=q21_knn_cell,q12_knn \
  *        SPARK_GRAFT_REPEATS=3 sbt "runMain graft.BenchExtra"
  */
object BenchExtra {

  private final class Acc extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val shBytes = new java.util.concurrent.atomic.AtomicLong
    val shRecords = new java.util.concurrent.atomic.AtomicLong
    val scanRecords = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        scanRecords.addAndGet(m.inputMetrics.recordsRead)
        spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        if (sys.env.contains("SPARK_GRAFT_STAGE_LOG")) {
          val si = sc.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          System.err.println(f"[stage] id=${si.stageId}%4d wall=${wall}%6d ms " +
            f"tasks=${si.numTasks}%4d cpu=${m.executorRunTime}%7d ms " +
            f"in=${m.inputMetrics.recordsRead}%9d sh=${m.shuffleWriteMetrics.recordsWritten}%8d " +
            si.name.takeWhile(_ != '\n').take(90))
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .orElse(if (args.nonEmpty) Some(args.toSeq) else None)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)

    // warm codegen/JIT once on the smallest scale (same recipe as Bench)
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      spark.catalog.clearCache()
    }

    names.foreach { q =>
      val samples = (1 to repeats).map { i =>
        val acc = new Acc
        spark.sparkContext.addSparkListener(acc)
        spark.sparkContext.setJobDescription(s"$q rep$i")
        val t0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(q)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          if (sys.env.contains("SPARK_GRAFT_EXPLAIN") && i == 1)
            System.err.println(s"[plan:$q]\n${df.queryExecution.executedPlan}")
        } catch { case e: Throwable => System.err.println(s"[extra] $q failed: $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(acc)
        (dt, acc)
      }
      val ws = samples.map(_._1)
      val a = samples.last._2 // steady-state rep's metrics
      println(f"""{"q":"$q","min":${ws.min}%.3f,"samples":[${ws.map(w => f"$w%.3f").mkString(",")}],""" +
        s""""jobs":${a.jobs.get},"stages":${a.stages.get},"shuffle_bytes":${a.shBytes.get},""" +
        s""""shuffle_records":${a.shRecords.get},"scan_records":${a.scanRecords.get},""" +
        s""""spill_bytes":${a.spillBytes.get},"gc_ms":${a.gcMs.get}}""")
    }
    spark.stop()
  }
}
