package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}

/** Plan-time statistics: the one place that answers "how big is this
  * frame?" for every plan-shape decision — the kernel spread
  * (`Spread.forKernels`), the kNN / spatial-join grid zoom
  * (`Knn.zoomForPlan`) and broadcast versus shuffle
  * (`SpatialJoin.provablySmall`). Everything here is metadata: parquet
  * footers (~KB per file, read on the driver) and optimizer statistics.
  * No Spark job and no data page is read, except the exact count past
  * `DistributedThreshold` files (see [[exact]]).
  *
  * It keeps two row contracts, because the decisions need different
  * precision:
  *  - [[exact]]: the true row count (and uncompressed bytes) of a
  *    projection-only parquet scan, from EVERY footer, or None. It feeds
  *    score arithmetic (tf-idf's N, the IVF fit's √N), where an estimate
  *    would change results, and the broadcast gate, which must be a proof.
  *  - [[estimatedRows]]: a row estimate for the zoom pick, which only needs
  *    ~2× precision. It reads the footers of `inputFiles` even under a
  *    filter, a stride sample of them past `MaxFooterSamples` files, and
  *    optimizer stats for non-file frames.
  * Plus one scan-split estimate, [[scanSplits]].
  */
object PlanStats {

  /** rows and uncompressed bytes (footer `totalByteSize`) of parquet files */
  final case class Footer(rows: Long, bytes: Long) {
    def +(o: Footer): Footer = Footer(rows + o.rows, bytes + o.bytes)
  }

  private val PoolSize = 16

  /** Past this many files the exact count moves into ONE tiny Spark job
    * over the file list (round-6 verdict #6: at the 100 TB design point,
    * ~10^5 files, serialized driver footer I/O is tens of seconds — the
    * last driver-side O(files) term). The job reads footers only.
    */
  private val DistributedThreshold = 4096

  /** Max footers read for the zoom estimate. Beyond the cap a deterministic
    * stride sample is read and extrapolated by file count (round-2 review:
    * at 10⁵-10⁶ files an unbounded loop is minutes of driver time before
    * the job starts; 64 footers are far more precision than the zoom needs).
    */
  private val MaxFooterSamples = 64

  /** The one parquet footer read. */
  private def readFooter(file: String, conf: org.apache.hadoop.conf.Configuration): Footer = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var bytes = 0L
      r.getRowGroups.forEach(b => bytes += b.getTotalByteSize)
      Footer(r.getRecordCount, bytes)
    } finally r.close()
  }

  /** footers of `files` summed, read on a bounded driver thread pool */
  private def readOnDriver(df: DataFrame, files: Seq[String]): Footer = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(PoolSize, files.length))
    try {
      files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Footer] {
          override def call(): Footer = readFooter(f, conf)
        })
      }.map(_.get()).reduce(_ + _)
    } finally pool.shutdown()
  }

  /** footers of `files` summed by a Spark job over the file list — driver
    * work is O(1), footer I/O is cluster-wide
    */
  private def readDistributed(df: DataFrame, files: Seq[String]): Footer = {
    val sc = df.sparkSession.sparkContext
    val bc = sc.broadcast(org.apache.spark.graftshim.HadoopConf.serializable(
      df.sparkSession.sessionState.newHadoopConf()))
    val slices = math.max(1, math.min(files.length, sc.defaultParallelism * 4))
    sc.parallelize(files, slices)
      .map(f => readFooter(f, bc.value.value))
      .fold(Footer(0L, 0L))(_ + _)
  }

  /** true iff every node between the plan root and its leaves preserves
    * row count (Project/alias only) — a Filter, Limit, Sample, Join,
    * Aggregate or Generate anywhere makes file-level counts wrong.
    */
  private def countPreserving(p: LogicalPlan): Boolean = p match {
    case pr: Project => countPreserving(pr.child)
    case _: LeafNode => true
    case _           => false
  }

  /** Exact rows and bytes of `df` when it is a (projection of a) bare
    * parquet scan; None otherwise — callers fall back to `df.count()`.
    * Any footer-read failure (file deleted between planning and read,
    * corrupt footer, transient FS error) also means None (round-6 advice).
    */
  def exact(df: DataFrame): Option[Footer] = exact(df, DistributedThreshold)

  private[graft] def exact(df: DataFrame, distributedThreshold: Int): Option[Footer] = {
    if (!countPreserving(df.queryExecution.optimizedPlan)) return None
    val files = df.inputFiles.toSeq
    if (files.isEmpty || !files.forall(_.endsWith(".parquet"))) return None
    scala.util.Try {
      if (files.length > distributedThreshold) readDistributed(df, files)
      else readOnDriver(df, files)
    }.toOption
  }

  /** Row estimate for the grid zoom, ≥ 1. For parquet-backed frames it is
    * the footer count of the scanned files (exact for a bare scan, an
    * upper bound under a filter); other frames fall back to optimizer
    * stats, which also cover a failed footer read.
    *
    * MEASURED LESSON (round 2): a sizeInBytes estimate under-estimated the
    * ×8 replica 5-20× (compressed parquet vs in-memory row width), picking
    * z=7 instead of z=9 — 16× more candidates per cell and a ~5× q21 wall
    * regression. Footer counts match the count()-based plan at zero cost.
    */
  def estimatedRows(df: DataFrame): Long = {
    val files = df.inputFiles.filter(_.endsWith(".parquet"))
    val fromFooters = if (files.isEmpty) None else scala.util.Try {
      val sampled =
        if (files.length <= MaxFooterSamples) files.toSeq
        else {
          val stride = files.length.toDouble / MaxFooterSamples
          Seq.tabulate(MaxFooterSamples)(i => files((i * stride).toInt))
        }
      val rows = readOnDriver(df, sampled).rows
      if (sampled.length == files.length) rows
      else math.round(rows.toDouble / sampled.length * files.length)
    }.toOption
    math.max(1L, fromFooters.getOrElse {
      val stats = df.queryExecution.optimizedPlan.stats
      stats.rowCount.map(toLongClamped).getOrElse {
        val rowBytes = math.max(8, df.schema.map(_.dataType.defaultSize).sum)
        toLongClamped(stats.sizeInBytes / rowBytes)
      }
    })
  }

  /** Lower bound on the scan's split count, max(#files, bytes / maxPartBytes),
    * from the cached file index and optimizer stats — no planning pass.
    * Non-file frames use optimizer stats alone: a LocalRelation carries its
    * true size (few splits), sources at the huge defaultSizeInBytes read as
    * many splits. Stats-inflated plans (a cross join multiplies its sides'
    * sizes) clamp at Long.MaxValue instead of wrapping.
    */
  def scanSplits(df: DataFrame): Long = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPart = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    math.max(df.inputFiles.length.toLong, toLongClamped(bytes / maxPart))
  }

  private def toLongClamped(b: BigInt): Long = (b min BigInt(Long.MaxValue)).toLong
}
