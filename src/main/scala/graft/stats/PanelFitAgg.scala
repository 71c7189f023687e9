package graft.stats

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Per-key state of `PanelFitAggExpr`: the sorted slot domain seen so far
  * (null once it passed `UnCov.MaxSlots` — the key is excluded) and the
  * co-moments of the subjects whose slots are exactly that domain. */
final class PanelState(val domain: Array[Any], val cm: UnCov.CoMoment)

/** The type=UN fit of one scope key as a mergeable typed-imperative
  * aggregate over its subject vectors (array<struct<slot, y>>, sorted by
  * slot, one entry per observed slot).
  *
  * Complete-case selection rides the merge: a subject is complete when
  * its slots are the key's whole domain, and each subject's slots are a
  * subset of that domain. So the state keeps the union of the slots seen
  * so far and the moments of the subjects holding all of them; when the
  * union grows, those subjects turn out incomplete and their moments are
  * dropped. The result is exact in any merge order, and the state never
  * exceeds MaxSlots slot values plus O(T²) doubles.
  *
  * Output: null for an excluded key (more than MaxSlots slots), else
  * (t, k, mu, inv, cutoff) — t the domain size, and k, mu, inv (Σ̂⁻¹) and
  * the χ²_T cutoff at `pct` null when no subject is complete or Σ̂ is
  * singular. Slots compare under Spark's ordering of their type, the
  * ordering the caller's `sort_array` used.
  */
@ExpressionDescription(usage = "panel_fit_agg(v) - type=UN slot domain, mu, inverse covariance and cutoff")
case class PanelFitAggExpr(
    child: Expression,
    pct: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PanelState]
  with UnaryLike[Expression] {

  @transient private lazy val slotType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].head.dataType

  @transient private lazy val ord: Ordering[Any] = TypeUtils.getInterpretedOrdering(slotType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(_, StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"panel_fit_agg needs array<struct<slot, double>>, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("k", LongType),
    StructField("mu", ArrayType(DoubleType, containsNull = false)),
    StructField("inv", ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)),
    StructField("cutoff", DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = "panel_fit_agg"

  override def createAggregationBuffer(): PanelState =
    new PanelState(Array.empty[Any], UnCov.emptyMoments)

  /** Sorted union of two sorted distinct slot arrays; null past MaxSlots. */
  private def union(a: Array[Any], b: Array[Any]): Array[Any] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var (i, j) = (0, 0)
    while ((i < a.length || j < b.length) && out.length <= UnCov.MaxSlots) {
      val c = if (i == a.length) 1 else if (j == b.length) -1 else ord.compare(a(i), b(j))
      if (c <= 0) { out += a(i); i += 1; if (c == 0) j += 1 }
      else { out += b(j); j += 1 }
    }
    if (out.length > UnCov.MaxSlots) null else out.toArray
  }

  /** `cm` if `domain` is the whole of `union`, else the zero state. */
  private def within(domain: Array[Any], union: Array[Any], cm: UnCov.CoMoment) =
    if (domain.length == union.length) cm else UnCov.emptyMoments

  override def update(buf: PanelState, input: InternalRow): PanelState = {
    val v = child.eval(input)
    if (v == null || buf.domain == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val slots = new Array[Any](n)
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      val cell = arr.getStruct(i, 2)
      slots(i) = InternalRow.copyValue(cell.get(0, slotType))
      y(i) = cell.getDouble(1)
      i += 1
    }
    val d = union(buf.domain, slots)
    if (d == null) new PanelState(null, UnCov.emptyMoments)
    else {
      val cm = within(buf.domain, d, buf.cm)
      new PanelState(d, if (n == d.length) UnCov.add(cm, y) else cm)
    }
  }

  override def merge(buf: PanelState, other: PanelState): PanelState =
    if (buf.domain == null || other.domain == null) new PanelState(null, UnCov.emptyMoments)
    else {
      val d = union(buf.domain, other.domain)
      if (d == null) new PanelState(null, UnCov.emptyMoments)
      else new PanelState(d, UnCov.merge(within(buf.domain, d, buf.cm),
        within(other.domain, d, other.cm)))
    }

  override def eval(buf: PanelState): Any =
    if (buf.domain == null) null
    else {
      val t = buf.domain.length
      val inv = if (buf.cm.n == 0) null else UnCov.inverseCov(buf.cm)
      if (inv == null) InternalRow(t, null, null, null, null)
      else InternalRow(t, buf.cm.n, new GenericArrayData(buf.cm.mean),
        new GenericArrayData(inv.map(r => new GenericArrayData(r): Any)), UnCov.chi2Inv(pct, t))
    }

  override def serialize(buf: PanelState): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(buf.domain)
    out.writeLong(buf.cm.n)
    out.writeObject(buf.cm.mean)
    out.writeObject(buf.cm.m2)
    out.close()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PanelState = {
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes))
    try {
      val domain = in.readObject().asInstanceOf[Array[Any]]
      val n = in.readLong()
      val mean = in.readObject().asInstanceOf[Array[Double]]
      new PanelState(domain, UnCov.CoMoment(n, mean, in.readObject().asInstanceOf[Array[Double]]))
    } finally in.close()
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PanelFitAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PanelFitAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): PanelFitAggExpr =
    copy(child = newChild)
}

object PanelFitAgg {
  /** Column API: agg(PanelFitAgg.fit($"v", 99.0)) → struct(t, k, mu, inv, cutoff). */
  def fit(v: Column, pct: Double): Column =
    GraftBridge.toColumn(
      PanelFitAggExpr(GraftBridge.toExpression(v), pct).toAggregateExpression())
}
