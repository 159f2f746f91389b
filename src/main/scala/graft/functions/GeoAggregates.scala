package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import GeoAlgorithms.Rect

/** Geometry aggregates — the "agg cousins" of the scalar constructive
  * tier: `geometry_union_agg` (presto-geospatial
  * GeometryUnionAgg.java / GeoFunctions.java:627's n-ary form) and
  * `convex_hull_agg` (ConvexHullAggregation.java).
  *
  * Both are mergeable with bounded, order-insensitive state — the
  * property that matters at scale, where partial aggregates combine in
  * arbitrary partition order:
  *
  *  - union keeps only the MAXIMAL input envelopes (a new envelope
  *    contained in an existing one is dropped; existing ones it covers
  *    are evicted). The disjoint-rectangle decomposition — the same
  *    construction as the scalar [[GeoAlgorithms.unionArray]], whose
  *    envelope-scope semantics it shares — is built only at eval time
  *    over the CANONICALLY SORTED envelope set, so the emitted WKT is
  *    identical for every partitioning of the same input.
  *  - convex hull keeps only current hull vertices (compressed via
  *    monotone chain whenever the buffer grows past a threshold);
  *    hull(hull(A) ∪ hull(B)) = hull(A ∪ B), and the monotone chain
  *    starts from the lexicographic minimum, so the result is again
  *    partition-order independent.
  */
final class GeomUnionBuffer {
  private[functions] var sawAny = false // any non-null input, incl. EMPTY
  private[functions] var soleWkt: String = null // single-input passthrough
  // second input's WKT, retained only while nonEmpty <= 2 so a
  // two-element group can take the EXACT scalar union path (st_union's
  // Greiner–Hormann regime) instead of diverging into the envelope
  // decomposition — keeps agg and scalar union consistent on pairs
  private[functions] var secondWkt: String = null
  private[functions] var nonEmpty = 0L
  private[functions] val envs = ArrayBuffer.empty[Rect]

  private def covers(a: Rect, b: Rect): Boolean =
    a._1 <= b._1 && a._2 <= b._2 && a._3 >= b._3 && a._4 >= b._4

  private[functions] def addEnv(r: Rect): Unit = {
    if (envs.exists(covers(_, r))) return
    var i = envs.length - 1
    while (i >= 0) { if (covers(r, envs(i))) envs.remove(i); i -= 1 }
    envs += r
  }

  def addWkt(wkt: String): Unit = {
    sawAny = true
    if (wkt.endsWith("EMPTY")) return
    if (nonEmpty == 0) soleWkt = wkt
    else if (nonEmpty == 1) secondWkt = wkt
    else secondWkt = null
    nonEmpty += 1
    addEnv(GeoAlgorithms.envelope(wkt))
  }

  def mergeWith(o: GeomUnionBuffer): Unit = {
    sawAny ||= o.sawAny
    if (nonEmpty == 0) { soleWkt = o.soleWkt; secondWkt = o.secondWkt }
    else if (nonEmpty == 1 && o.nonEmpty == 1) secondWkt = o.soleWkt
    else if (nonEmpty + o.nonEmpty > 2) secondWkt = null
    nonEmpty += o.nonEmpty
    o.envs.foreach(addEnv)
  }

  /** Canonical decomposition: envelopes in sorted order, each new one
    * contributing only its parts outside every part so far (the scalar
    * unionArray construction, made deterministic by the sort). */
  def result(): String = {
    if (!sawAny) return null
    if (nonEmpty == 0L) return "POLYGON EMPTY"
    if (nonEmpty == 1L) return soleWkt
    // two-element groups route through the scalar binary union so agg
    // and scalar answers agree (incl. the exact Greiner–Hormann
    // regime); WKTs sorted first — scalar union's output shape is
    // argument-order dependent, the sort restores partition-order
    // determinism
    if (nonEmpty == 2L && soleWkt != null && secondWkt != null) {
      val (a, b) =
        if (soleWkt <= secondWkt) (soleWkt, secondWkt) else (secondWkt, soleWkt)
      return GeoAlgorithms.union(a, b)
    }
    val sortedEnvs = envs.sortBy(identity)
    var parts = Seq(sortedEnvs.head)
    sortedEnvs.tail.foreach { e =>
      var pieces: Seq[Rect] = Seq(e)
      parts.foreach(p => pieces = pieces.flatMap(GeoAlgorithms.rectMinus(_, p)))
      parts = parts ++ pieces
    }
    GeoAlgorithms.partsWkt(parts)
  }

  // length-prefixed UTF-8, not writeUTF: modified-UTF's 64 KiB cap
  // would crash partial-agg shuffle serialization on a single
  // many-vertex polygon
  private def writeStr(out: DataOutputStream, s: String): Unit =
    if (s == null) out.writeInt(-1)
    else {
      val b = s.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
    }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(2)
    out.writeBoolean(sawAny)
    out.writeLong(nonEmpty)
    writeStr(out, soleWkt)
    writeStr(out, secondWkt)
    out.writeInt(envs.length)
    envs.foreach { e =>
      out.writeDouble(e._1); out.writeDouble(e._2)
      out.writeDouble(e._3); out.writeDouble(e._4)
    }
    out.flush()
    bos.toByteArray
  }
}

object GeomUnionBuffer {
  private def readStr(in: DataInputStream): String = {
    val n = in.readInt()
    if (n < 0) null
    else {
      val b = new Array[Byte](n)
      in.readFully(b)
      new String(b, "UTF-8")
    }
  }

  def deserialize(bytes: Array[Byte]): GeomUnionBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == 2, "unknown geometry_union_agg buffer version")
    val buf = new GeomUnionBuffer
    buf.sawAny = in.readBoolean()
    buf.nonEmpty = in.readLong()
    buf.soleWkt = readStr(in)
    buf.secondWkt = readStr(in)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      buf.envs += ((in.readDouble(), in.readDouble(), in.readDouble(), in.readDouble()))
      i += 1
    }
    buf
  }
}

case class GeometryUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GeomUnionBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "geometry_union_agg"

  override def createAggregationBuffer(): GeomUnionBuffer = new GeomUnionBuffer

  override def update(buf: GeomUnionBuffer, input: InternalRow): GeomUnionBuffer = {
    val v = child.eval(input)
    if (v != null) buf.addWkt(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: GeomUnionBuffer, other: GeomUnionBuffer): GeomUnionBuffer = {
    buf.mergeWith(other); buf
  }

  override def eval(buf: GeomUnionBuffer): Any = {
    val r = buf.result()
    if (r == null) null else UTF8String.fromString(r)
  }

  override def serialize(buf: GeomUnionBuffer): Array[Byte] = buf.serialize()
  override def deserialize(b: Array[Byte]): GeomUnionBuffer =
    GeomUnionBuffer.deserialize(b)

  override def withNewMutableAggBufferOffset(o: Int): GeometryUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GeometryUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GeometryUnionAgg =
    copy(child = c(0))
}

final class HullBuffer {
  private[functions] var sawAny = false
  private[functions] val pts = ArrayBuffer.empty[(Double, Double)]
  // hull vertices of ≥ compressAt points collapse to ≤ the true hull
  // size, so memory stays proportional to hull complexity, not rows
  private val compressAt = 1024

  private def compress(): Unit = {
    val hull = GeoAlgorithms.hullPoints(pts.toSeq)
    pts.clear()
    pts ++= hull
  }

  def addWkt(wkt: String): Unit = {
    sawAny = true
    pts ++= GeoAlgorithms.parseCoords(wkt)
    if (pts.length > compressAt) compress()
  }

  def mergeWith(o: HullBuffer): Unit = {
    sawAny ||= o.sawAny
    pts ++= o.pts
    if (pts.length > compressAt) compress()
  }

  def result(): String = {
    if (!sawAny) return null
    val hull = GeoAlgorithms.hullPoints(pts.toSeq)
    if (hull.isEmpty) "POLYGON EMPTY" // only EMPTY geometries seen
    else if (hull.length == 1) {
      val (x, y) = hull.head
      s"POINT (${GeoAlgorithms.fmt(x)} ${GeoAlgorithms.fmt(y)})"
    } else if (hull.length == 2)
      s"LINESTRING ${GeoAlgorithms.ringWkt(hull)}"
    else
      s"POLYGON (${GeoAlgorithms.ringWkt(hull :+ hull.head)})"
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(1)
    out.writeBoolean(sawAny)
    val hull = GeoAlgorithms.hullPoints(pts.toSeq)
    out.writeInt(hull.length)
    hull.foreach { case (x, y) => out.writeDouble(x); out.writeDouble(y) }
    out.flush()
    bos.toByteArray
  }
}

object HullBuffer {
  def deserialize(bytes: Array[Byte]): HullBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == 1, "unknown convex_hull_agg buffer version")
    val buf = new HullBuffer
    buf.sawAny = in.readBoolean()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.pts += ((in.readDouble(), in.readDouble())); i += 1 }
    buf
  }
}

case class ConvexHullAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HullBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "convex_hull_agg"

  override def createAggregationBuffer(): HullBuffer = new HullBuffer

  override def update(buf: HullBuffer, input: InternalRow): HullBuffer = {
    val v = child.eval(input)
    if (v != null) buf.addWkt(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: HullBuffer, other: HullBuffer): HullBuffer = {
    buf.mergeWith(other); buf
  }

  override def eval(buf: HullBuffer): Any = {
    val r = buf.result()
    if (r == null) null else UTF8String.fromString(r)
  }

  override def serialize(buf: HullBuffer): Array[Byte] = buf.serialize()
  override def deserialize(b: Array[Byte]): HullBuffer = HullBuffer.deserialize(b)

  override def withNewMutableAggBufferOffset(o: Int): ConvexHullAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ConvexHullAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ConvexHullAgg =
    copy(child = c(0))
}
