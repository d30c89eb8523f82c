package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.KernelExpr
import org.apache.spark.sql.types._

import graft.core.{Geom, Projection, Wkb, WkbKernels}
import GeomKernels.{pointStruct, row}

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

/** Forward map projection for any registered SRID (core/Proj.scala +
  * Projection.forSrid — the reference's Grid{Srid} CRS hook as a column):
  * (srid, lng, lat) → struct(x, y) in the CRS's native units. The SRID is
  * a plan-time constant; an unknown SRID fails at ANALYSIS time — like the
  * reference's proj.Convert error, and never mid-job on an executor.
  */
case class StProject(lng: Expression, lat: Expression, srid: Int)
    extends KernelExpr(ProjKernels, "project", pointStruct, DoubleType, DoubleType) {
  override def checkInputDataTypes(): TypeCheckResult =
    ProjKernels.checkSrid(srid, super.checkInputDataTypes())
  override def children: Seq[Expression] = Seq(lng, lat)
  override protected def kernelArgs: Seq[Expression] = Seq(lng, lat, Literal(srid))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), srid)
}

/** Inverse projection: (srid, x, y) → struct(x = lng, y = lat). */
case class StProjectInv(x: Expression, y: Expression, srid: Int)
    extends KernelExpr(ProjKernels, "projectInv", pointStruct, DoubleType, DoubleType) {
  override def checkInputDataTypes(): TypeCheckResult =
    ProjKernels.checkSrid(srid, super.checkInputDataTypes())
  override def children: Seq[Expression] = Seq(x, y)
  override protected def kernelArgs: Seq[Expression] = Seq(x, y, Literal(srid))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), srid)
}

/** Whole-geometry reprojection (WKB → WKB): the reference's
  * `ApplyToPoints` (utils.go:6-110) composed with the `Grid{Srid}`
  * projection pair — every coordinate runs inverse(fromSrid) → 4326 →
  * forward(toSrid), recursing through collections, ring and vertex order
  * preserved. Both SRIDs are checked at analysis (failure on an unknown
  * code); a geometry with any coordinate that has no finite image
  * (e.g. a pole under a Mercator-family target) maps to NULL rather than
  * a partially-poisoned geometry, matching st_project's scalar rule.
  */
case class StTransform(geo: Expression, fromSrid: Int, toSrid: Int)
    extends KernelExpr(ProjKernels, "transform", BinaryType, BinaryType) {
  override def checkInputDataTypes(): TypeCheckResult =
    ProjKernels.checkSrid(toSrid, ProjKernels.checkSrid(fromSrid, super.checkInputDataTypes()))
  override def children: Seq[Expression] = Seq(geo)
  override protected def kernelArgs: Seq[Expression] =
    Seq(geo, Literal(fromSrid), Literal(toSrid))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), fromSrid, toSrid)
}
