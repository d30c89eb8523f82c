package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.{KernelExpr, KernelSig}

import graft.core.{Geom, Projection, Wkb, WkbKernels}
import GeomKernels.row

/** Projection kernels by SRID. `Projection.forSrid` builds a new projection
  * per call (a UTM zone constructs its series), so each SRID resolves once
  * per JVM here; projections are immutable and shared across task threads.
  */
object ProjKernels {
  private val bySrid = new java.util.concurrent.ConcurrentHashMap[Int, Projection]()

  private def proj(srid: Int): Projection =
    bySrid.computeIfAbsent(srid, s => Projection.forSrid(s).get)

  /** analysis-time SRID validity: the lookup executors will replay must
    * succeed on the driver before the job launches.
    */
  def checkSrid(srid: Int, base: TypeCheckResult): TypeCheckResult =
    if (base.isFailure || Projection.forSrid(srid).isDefined) base
    else TypeCheckResult.TypeCheckFailure(
      s"unsupported SRID $srid (see graft.core.Projection.forSrid)")

  /** a finite point, or null (poles under Mercator-family CRSs have no
    * finite map position).
    */
  private def finiteRow(x: Double, y: Double): InternalRow =
    if (java.lang.Double.isFinite(x) && java.lang.Double.isFinite(y)) row(x, y) else null

  def project(lng: Double, lat: Double, srid: Int): InternalRow = {
    val (x, y) = proj(srid).forward(lng, lat)
    finiteRow(x, y)
  }

  def projectInv(x: Double, y: Double, srid: Int): InternalRow = {
    val (lon, lat) = proj(srid).inverse(x, y)
    finiteRow(lon, lat)
  }

  def transform(geo: Array[Byte], fromSrid: Int, toSrid: Int): Array[Byte] = {
    val g = WkbKernels.geomOrNull(geo)
    if (g == null) return null
    val from = proj(fromSrid)
    val to = proj(toSrid)
    var finite = true
    val out = Geom.applyToPoints(g) { p =>
      val (lon, lat) = from.inverse(p._1, p._2)
      val q = to.forward(lon, lat)
      if (!(java.lang.Double.isFinite(q._1) && java.lang.Double.isFinite(q._2)))
        finite = false
      q
    }
    if (finite) Wkb.encode(out) else null
  }
}

/** The functions whose trailing arguments are plan-time SRIDs
  * (`KernelSig.srids`): st_project, st_project_inv and st_transform. The
  * SRIDs are constants of the node, not children; an unknown SRID fails
  * at ANALYSIS time — like the reference's proj.Convert error, and never
  * mid-job on an executor. The kernel takes them as INT literals after
  * the children.
  */
case class SridCall(sig: KernelSig, children: Seq[Expression], srids: Seq[Int])
    extends KernelExpr {
  override def checkInputDataTypes(): TypeCheckResult =
    srids.foldLeft(super.checkInputDataTypes())((r, srid) => ProjKernels.checkSrid(srid, r))
  override protected def kernelArgs: Seq[Expression] = children ++ srids.map(Literal(_))
  override protected def flatArguments: Iterator[Any] = (children ++ srids).iterator
  // the column name keeps the SRIDs: two projections of one point differ
  override def sql: String =
    (children.map(_.sql) ++ srids.map(_.toString)).mkString(s"$prettyName(", ", ", ")")
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SridCall =
    copy(children = c)
}
