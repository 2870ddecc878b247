package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.geo.Geodesic

/** Catalyst expressions for the geodesic kernel (SURVEY §2.3 "geospatial
  * scalar fns"): GRS80 inverse distance / azimuth / polyline length and
  * the reference's bearing-difference predicate
  * (reference: /root/reference/src/pipeline_calculator_v3.py:234,269,347-348).
  *
  * Native expressions (not Scala UDFs) so they sit inside the join's
  * residual-condition evaluation without serialization overhead;
  * CodegenFallback keeps them usable inside whole-stage-codegen'd plans
  * (the surrounding operators still codegen).
  */
abstract class GeoQuaternary extends Expression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  protected def compute(a: Double, b: Double, c: Double, d: Double): Double
  override def eval(input: InternalRow): Any = {
    val v0 = children(0).eval(input); if (v0 == null) return null
    val v1 = children(1).eval(input); if (v1 == null) return null
    val v2 = children(2).eval(input); if (v2 == null) return null
    val v3 = children(3).eval(input); if (v3 == null) return null
    compute(asD(v0), asD(v1), asD(v2), asD(v3))
  }
  private def asD(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case n: Number => n.doubleValue()
  }
}

/** st_geodesic_distance(lon1, lat1, lon2, lat2) → meters on GRS80. */
case class GeodesicDistance(children: Seq[Expression]) extends GeoQuaternary {
  override protected def compute(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Geodesic.distance(lon1, lat1, lon2, lat2)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** st_azimuth(lon1, lat1, lon2, lat2) → forward azimuth deg (-180, 180]. */
case class GeodesicAzimuth(children: Seq[Expression]) extends GeoQuaternary {
  override protected def compute(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Geodesic.azimuth(lon1, lat1, lon2, lat2)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** bearing_diff(b1, b2) → min(|Δ|, 360-|Δ|); NO antiparallel folding (SURVEY Q3). */
case class BearingDiff(left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def eval(input: InternalRow): Any = {
    val a = left.eval(input); if (a == null) return null
    val b = right.eval(input); if (b == null) return null
    Geodesic.bearingDiff(a.asInstanceOf[Double], b.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(left = c(0), right = c(1))
}

/** st_geodesic_length(array<struct<lon,lat>>) → Σ |inverse| meters
  * (reference :230-236: abs(distance) per consecutive vertex pair). */
case class GeodesicPolylineLength(child: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return 0.0
    var total = 0.0
    var prevLon = 0.0; var prevLat = 0.0; var first = true
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      val lon = row.getDouble(0); val lat = row.getDouble(1)
      if (!first) total += math.abs(Geodesic.distance(prevLon, prevLat, lon, lat))
      prevLon = lon; prevLat = lat; first = false
      i += 1
    }
    total
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

object GeoFunctions {
  import org.apache.spark.sql.graft.Bridge.{column => toCol, expression => toExpr}

  def st_geodesic_distance(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    toCol(GeodesicDistance(Seq(toExpr(lon1), toExpr(lat1), toExpr(lon2), toExpr(lat2))))

  def st_azimuth(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    toCol(GeodesicAzimuth(Seq(toExpr(lon1), toExpr(lat1), toExpr(lon2), toExpr(lat2))))

  def bearing_diff(b1: Column, b2: Column): Column =
    toCol(BearingDiff(toExpr(b1), toExpr(b2)))

  def st_geodesic_length(coords: Column): Column =
    toCol(GeodesicPolylineLength(toExpr(coords)))
}
