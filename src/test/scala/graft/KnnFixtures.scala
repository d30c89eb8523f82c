package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Slippy

/** Shared kNN test inputs and oracles: unconditional brute force, and an
  * independent (driver-side) recomputation of which path the operator's
  * rule sends each query down. Also the specs' Spark-job counter.
  */
trait KnnFixtures {

  def spark: SparkSession

  def bruteKnn(qs: DataFrame, pts: DataFrame, k: Int): DataFrame = {
    val d2 = (col("qlon") - col("lon")) * (col("qlon") - col("lon")) +
      (col("qlat") - col("lat")) * (col("qlat") - col("lat"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("nid").asc)
    pts.join(broadcast(qs), col("qid") =!= col("pid"))
      .select(col("qid"), col("pid").as("nid"), d2.as("dist2"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Spark jobs launched while `body` runs */
  def jobsDuring[T](body: => T): (T, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  /** (qid, nid, dist2, rk) rows, sorted: a multiset comparison key */
  def rowsOf(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.select(col("qid"), col("nid"), col("dist2"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq.sorted

  def queriesOf(pts: DataFrame, every: Int): DataFrame =
    pts.filter(col("pid") % every === 0)
      .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))

  /** sparse deterministic scatter: ~1 point per deep-z cell, so the 3×3
    * margin certification FAILS for most queries. Plus boundary-clamped
    * rows (|lat| > 85.05 lives in tile row 0/maxT) and antimeridian rows.
    */
  def sparseRows: Seq[(Long, Double, Double)] = {
    val scatter = (0L until 120L).map { i =>
      (i, (i * 0.618033988749895 % 1.0) * 340.0 - 170.0,
          (i * 0.414213562373095 % 1.0) * 160.0 - 80.0)
    }
    val polar = Seq((200L, 12.0, 89.0), (201L, 12.4, 88.5), (202L, -9.0, -89.2),
                    (203L, -9.3, -88.8), (204L, 179.9, 1.0), (205L, -179.8, 1.2))
    scatter ++ polar
  }

  /** a uniform field (~0.4 points per square degree) with every fifth
    * point duplicated under a new pid: exact dist2 ties, ordered by nid.
    */
  def fieldRows: Seq[(Long, Double, Double)] = {
    val field = (0L until 2000L).map { i =>
      (i, (i * 0.618033988749895 % 1.0) * 80.0 - 40.0, (i * 0.414213562373095 % 1.0) * 60.0 - 30.0)
    }
    field ++ field.filter(_._1 % 5 == 0).map { case (i, lon, lat) => (i + 100000L, lon, lat) }
  }

  def toPoints(rows: Seq[(Long, Double, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("pid", "lon", "lat")
  }

  /** squared margin of (lon, lat) to its 3×3 block at zoom z, open on the
    * grid edges — the certification rule, recomputed on the driver.
    */
  private def margin2(z: Int, lon: Double, lat: Double): Double = {
    val tx = Slippy.lon2Num(z, lon)
    val ty = Slippy.lat2Num(z, lat)
    val maxT = (1 << z) - 1
    val open = Double.MaxValue
    val m = Seq(
      if (tx == 0) open else lon - Slippy.x2deg(z, tx - 1),
      if (tx == maxT) open else Slippy.x2deg(z, tx + 2) - lon,
      if (ty == 0) open else Slippy.y2deg(z, ty - 1) - lat,
      if (ty == maxT) open else lat - Slippy.y2deg(z, ty + 2)).min
    math.min(m * m, open)
  }

  /** the path each query takes at zoom z: "certified", "disc" or "brute". */
  def routes(qids: Seq[Long], rows: Seq[(Long, Double, Double)], k: Int,
             z: Int): Map[String, Int] = {
    val byId = rows.map(r => r._1 -> r).toMap
    qids.map { qid =>
      val (_, qlon, qlat) = byId(qid)
      val (tx, ty) = (Slippy.lon2Num(z, qlon), Slippy.lat2Num(z, qlat))
      val d2s = rows.collect {
        case (pid, lon, lat) if pid != qid &&
            math.abs(Slippy.lon2Num(z, lon) - tx) <= 1 && math.abs(Slippy.lat2Num(z, lat) - ty) <= 1 =>
          (qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat)
      }.sorted
      val kth = if (d2s.size >= k) d2s(k - 1) else Double.PositiveInfinity
      if (kth <= margin2(z, qlon, qlat)) "certified"
      else if (z - 2 >= 2 && kth <= margin2(z - 2, qlon, qlat)) "disc"
      else "brute"
    }.groupBy(identity).view.mapValues(_.size).toMap
  }
}
