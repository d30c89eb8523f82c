package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Two-parallelism scaling evidence (BASELINE.md measurement plan): the
  * same headline jobs on the same input at local[8] and local[32],
  * reporting throughput at both plus scaling efficiency
  * = (throughput_32 / throughput_8) / (32 / 8).
  *
  * Round-1 lesson (VERDICT.md): sub-10 s jobs measure per-job fixed
  * overhead, not throughput — each headline query needs an input sized so
  * its local[8] runtime is tens of seconds. Round-2 lesson: the operators
  * got faster (kNN rework: 46.6 s → 8.1 s on the ×8 replica at local[8]),
  * so the tiers must grow with them. Each query is therefore pinned to a
  * replica tier sized for its post-rework throughput:
  *
  *   ×8   — q33 (five geometry kernels per row: the composed tile pipeline)
  *   ×48  — q21/q12 (the points shuffle dominates: the honest cell-join
  *           shape), q29 (makevalid kernel, allocation-heavy)
  *   ×480 — q01/q03/q30 (map-only tile math: µs/row, needs 288M rows to
  *           spend tens of seconds at 8 cores)
  *
  * One fixed input per query across both parallelism levels (the north
  * rule's N-vs-4N criterion). Measurement is PAIRED: each query's lo-core
  * and hi-core runs execute back-to-back in adjacent time windows, because
  * the sandbox host's deliverable throughput drifts 2-3× across 10-minute
  * windows (same code, same input: q21 at 8 cores measured 158/204/416 s
  * in three windows) — a pooled min-of-N across windows mixes fast-window
  * lo with slow-window hi (or vice versa) and corrupts the ratio.
  */
object Scaling {

  /** query → replica factor. q33_pipeline_op reads the PREBUILT WKB
    * geometry parquet (written at prepare time) so the measurement covers
    * the tile-pipeline OPERATOR, not the synthetic per-row WKT string
    * construction that exists only to make the gate oracle-expressible
    * (double→string formatting allocates more than the geometry kernels
    * themselves and was dominating the measured "pipeline" scaling).
    */
  /** the q33 tile-pipeline tier factor. Round 3's kernel is 3.3× faster
    * than round 2's, so the round-2 ×8 replica finishes in ~9 s at 8
    * cores — too small to measure 32 cores against fixed overheads; ×32
    * restores tens-of-seconds lo-side runs.
    */
  val Q33Tier = sys.env.getOrElse("SPARK_GRAFT_Q33_TIER", "32").toInt

  /** q30 tier: the recorded ×480 pair's hi side finished in 15.1 s —
    * scan/overhead-bound (the round-3 GC A/B showed that regime's hi side
    * doesn't move with executor speed), biasing the ratio low (0.72).
    * ×960 doubles both sides so the 4-executor side spends tens of
    * seconds in real work.
    */
  val Q30Tier = sys.env.getOrElse("SPARK_GRAFT_Q30_TIER", "960").toInt

  /** q21 tier: ×48 default; the round-6 Amdahl fit over 4 clean-window
    * thread points (S≈20 s fixed + P≈350 s parallel) predicts the fixed
    * section amortizes at bigger tiers — override to ×480 to test that
    * prediction directly (the fit says ~0.94 there vs ~0.6 at ×48).
    */
  val Q21Tier = sys.env.getOrElse("SPARK_GRAFT_Q21_TIER", "48").toInt

  private val plan: Seq[(String, Int)] = Seq(
    "q33_pipeline_op" -> Q33Tier,
    "q21_knn_cell" -> Q21Tier,
    "q12_knn" -> 48,
    "q29_makevalid" -> 48,
    "q01_tile_assign" -> 480,
    "q03_pip_join" -> 480,
    "q30_mvt_prepare" -> Q30Tier,
    // round 5: the big-big shuffle join family's representative. ×48
    // (the q21/q29 dir) puts the lo side ~30 s — the ×16 first cut left
    // the pair fixed-overhead-bound (lo 11 s, Amdahl S≈2.7 s)
    "q54_distance_join" -> 48)

  private def dirFor(factor: Int) = s"/tmp/graft_scaled$factor"

  def prepareScaled(sfDir: String, factor: Int): Unit = {
    val outDir = dirFor(factor)
    // versioned marker: v2 dirs carry the prebuilt q33geom.parquet for the
    // ×8 tier; a round-1 dir with only the unversioned _READY is rebuilt.
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "_READY_v2"))) return
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val replicated = (0 until factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 1000000000L))
    }.reduce(_ unionByName _)
    replicated.repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    for (t <- Seq("nation", "documents", "events", "embeddings", "orders", "customer"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    if (factor == Q33Tier) // the tile-pipeline tier reads prebuilt WKB geometry
      SparkEntry.q33Input(spark, outDir)
        .write.mode("overwrite").parquet(s"$outDir/q33geom.parquet")
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "_READY_v2"), Array.emptyByteArray)
  }

  /** scaling-only measurement queries (not part of the driver gate). */
  private val localQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q33_pipeline_op" -> ((s, dir) => {
      val pre = new java.io.File(s"$dir/q33geom.parquet")
      // ONLY the sf0.001 warm-up dir may build the input inline; a replica
      // dir without the prebuilt file is a stale prepare (round-2 advice:
      // the silent fallback reintroduced the per-row WKT string build the
      // tier was designed to exclude, corrupting the measurement).
      val in =
        if (pre.exists) s.read.parquet(pre.getPath)
        else if (dir.contains("sf0.001")) SparkEntry.q33Input(s, dir)
        else sys.error(s"stale scaling dir $dir: q33geom.parquet missing — " +
          "delete the dir and re-run prepareScaled")
      graft.operators.TilePipeline.mvtCommands(in, "geom", "z9", "tx", "ty")
        .select(col("pid"), col("mvt_type"),
          size(col("mvt_commands")).cast("long").as("n_cmds"))
    }),

    "q54_distance_join" -> ((s, dir) => {
      // density-normalized radius: the replica REHASHES shifted orderkeys
      // into new distinct positions, so a ×16 tier is ×16 DENSITY and the
      // gate's fixed radius would grow output pairs ~quadratically (the
      // first recorded pair measured ~1.2e9-pair materialization volume,
      // not parallelism). r = 1/√tier keeps pairs-per-query at the sf0.1
      // gate's level while the input is tier× — the honest fixed-work-
      // per-row scaling shape for a density-coupled operator.
      val factor = "scaled(\\d+)".r.findFirstMatchIn(dir).map(_.group(1).toInt).getOrElse(1)
      val radius = 1.0 / math.sqrt(factor.toDouble)
      val pts = graft.sources.Synth.points(s, dir)
      val l = pts.filter(col("pid") % 4 === 0)
        .select(col("pid").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
      val r = pts.select(col("pid").as("nid"), col("lon"), col("lat"))
      graft.operators.SpatialJoin.distanceJoin(l, "qlon", "qlat", r, "lon", "lat",
          radius)
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"))
    }))

  /** One session at `cpus`: warm up on sf0.001, then run each query on its
    * size-matched replica dir.
    *
    * Two masters:
    *  - default: `local[cpus]` (single shared JVM — thread scaling);
    *  - SPARK_GRAFT_EXEC_MODE=cluster: `local-cluster[cpus/4, 4, mem]` —
    *    REAL SEPARATE EXECUTOR JVMs (Spark standalone in-process), i.e.
    *    the north rule's "N vs 4N executors" literally: 8 cores = 2
    *    executors, 32 cores = 8 executors, each with its own heap and GC.
    *    A single shared JVM understates scaling for allocation-heavy
    *    kernels (all 32 threads fight one allocator); separate executor
    *    JVMs are what a real cluster runs. Requires `sbt package` first
    *    (the app jar ships to executors via spark.jars) and a writable
    *    SPARK_HOME (jars symlink) so worker scratch stays out of /opt.
    */
  def buildSession(cpus: Int): SparkSession = {
    val clusterMode = sys.env.get("SPARK_GRAFT_EXEC_MODE").contains("cluster")
    // CONSTANT shuffle partitioning across both parallelism levels: with
    // partitions = cores, the low-core side gets 4-8× larger partitions
    // and its window sorts start spilling — the high-core side then looks
    // superlinear (measured q21 "efficiency" 1.76 at 4→16). 64 partitions
    // keep every level's partitions spill-free and identical on both sides,
    // so the ratio measures parallelism, nothing else.
    val common = SparkSession.builder()
      .appName(s"graft-scaling-$cpus")
      // default 64: spill-free and identical on both sides at the ×8-×48
      // tiers (see the comment below). Bigger tiers must SCALE partitions
      // with the data or the fixed count turns sort windows into spills —
      // the ×480 first attempt at 64 measured 27× wall for 10× data on
      // both sides (the deployment rule at 100 TB is partitions ∝ data,
      // which keeps per-partition sorts in memory; the knob makes the
      // harness follow it at big tiers while staying constant lo-vs-hi).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTITIONS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    val builder =
      if (clusterMode) {
        val execCores = 4
        val nExec = math.max(1, cpus / execCores)
        val jar = new java.io.File("target/scala-2.13/geomspark_2.13-0.1.0.jar")
        require(jar.exists, "cluster mode needs `sbt package` first")
        val addOpens = Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar")
          .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
        common
          .master(s"local-cluster[$nExec,$execCores,7168]")
          .config("spark.jars", jar.getAbsolutePath)
          .config("spark.executor.memory", "6g")
          .config("spark.executor.extraJavaOptions", addOpens)
      } else common.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** optional comma-separated query filter (experiments): SPARK_GRAFT_SCALE_ONLY */
  private def activePlan: Seq[(String, Int)] =
    sys.env.get("SPARK_GRAFT_SCALE_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        plan.filter { case (q, _) => keep.contains(q) }
      case None => plan
    }

  /** one query at one parallelism in its own session (paired mode). */
  def runSingle(cpus: Int, name: String, factor: Int): Double = {
    val spark = buildSession(cpus)
    val qs = SparkEntry.queries ++ localQueries
    Bench.run(spark, "/root/testdata/sf0.001", Map(name -> qs(name))) // warm
    val t = Bench.run(spark, dirFor(factor), Map(name -> qs(name)))(name)
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    t
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    activePlan.map(_._2).distinct.foreach(f => prepareScaled(base, f))
    // replica builds are heavy IO; building and measuring in one window
    // corrupts the pre-measurement bandwidth bracket — prepare separately
    if (sys.env.contains("SPARK_GRAFT_PREPARE_ONLY")) {
      System.err.println("prepare-only: replicas ready, exiting")
      return
    }

    val lo = sys.env.getOrElse("SPARK_GRAFT_SCALE_LO", "8").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_SCALE_HI", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "1").toInt

    // PAIRED measurement: the sandbox host's deliverable throughput drifts
    // 2-3× across 10-minute windows (same job, same code: q21 at 8 cores
    // measured 158 s / 204 s / 416 s in three separate windows), so lo and
    // hi runs of EACH query execute back-to-back — the per-query ratio is
    // taken between adjacent windows, cancelling the drift that an
    // interleaved min-of-N estimator mixes across windows.
    // ESTIMATOR (round-2 advice): max-of-N paired ratios systematically
    // selects rounds where host drift moved favorably between the lo and hi
    // windows, biasing the headline upward as rounds grow. The headline is
    // now the MEDIAN of the paired ratios, and every round's raw timings
    // are emitted so the selection is visible in the JSON.
    require(rounds >= 1, s"SPARK_GRAFT_SCALE_ROUNDS must be >= 1 (got $rounds)")
    val perLo = scala.collection.mutable.Map[String, Double]()
    val perHi = scala.collection.mutable.Map[String, Double]()
    val perEff = scala.collection.mutable.Map[String, Double]()
    val perRounds = scala.collection.mutable.Map[String, Seq[(Double, Double, Double)]]()
    for ((name, factor) <- activePlan) {
      val rs = (1 to rounds).map { _ =>
        val tLo = runSingle(lo, name, factor)
        val tHi = runSingle(hi, name, factor)
        val eff = (tLo / tHi) / (hi.toDouble / lo)
        require(!eff.isNaN && !eff.isInfinite && tLo > 0 && tHi > 0,
          s"invalid paired timing for $name: lo=$tLo hi=$tHi")
        (tLo, tHi, eff)
      }
      val sorted = rs.sortBy(_._3)
      val med = sorted(sorted.size / 2) // upper median for even N — still within the observed rounds
      perLo(name) = med._1; perHi(name) = med._2; perEff(name) = med._3
      perRounds(name) = rs
      System.err.println(f"SCALING $name median lo=${med._1}%.1f hi=${med._2}%.1f eff=${med._3}%.2f " +
        s"(all: ${rs.map(r => f"${r._3}%.2f").mkString(",")})")
    }
    val tLo = perLo.values.sum
    val tHi = perHi.values.sum
    val speedup = tLo / tHi
    val eff = speedup / (hi.toDouble / lo.toDouble)
    def fmt(m: collection.Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val tiers = activePlan.map { case (q, f) => "\"" + q + "\":" + f }.mkString("{", ",", "}")
    val allRounds = perRounds.toSeq.sortBy(_._1).map { case (q, rs) =>
      "\"" + q + "\":[" + rs.map { case (l, h, e) => s"""{"lo":$l,"hi":$h,"eff":$e}""" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scaling","base":"$base","tiers":$tiers,"lo_cores":$lo,"hi_cores":$hi,"paired":true,"estimator":"median_of_paired_ratios","rounds":$rounds,"headline_total_sec_local$lo":$tLo,"headline_total_sec_local$hi":$tHi,"speedup":$speedup,"efficiency":$eff,"per_query_efficiency":${fmt(perEff)},"local$lo":${fmt(perLo)},"local$hi":${fmt(perHi)},"all_rounds":$allRounds}""")
  }
}
