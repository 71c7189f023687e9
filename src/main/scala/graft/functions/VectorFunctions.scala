package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector math over array<float>/array<double> columns.
  *
  * The hot scorers (cosine, signBucket) are native Catalyst expressions:
  * Spark's higher-order functions (transform / zip_with / aggregate) are
  * `CodegenFallback` — every element evaluation walks an interpreted
  * LambdaFunction tree and boxes its operands, which made the interpreted
  * cosine chain (3 transforms + 2 zip_with + 3 aggregates per row) the
  * whole cost of the ANN queries at bench scale. The native forms walk
  * the two ArrayData buffers once with primitive arithmetic in EXACTLY
  * the declarative forms' accumulation order, so results are
  * bit-identical (pinned in TextFunctionsSpec, incl. null/NaN/length
  * edge cases); the declarative builders are kept below for that pin.
  */
object VectorFunctions {

  private def d(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(d(a), lit(0.0), (acc, v) => acc + v * v))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.toColumn(CosineSim(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b)))

  /** The pre-round-6 higher-order-function cosine — kept as the
    * bit-identity reference for the native expression. */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den === 0, lit(0.0)).otherwise(dot(a, b) / den)
  }

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v))

  /** Deterministic coarse-quantizer cell id for IVF-style bucketed ANN:
    * sign pattern of the first `bits` components (a random-hyperplane LSH
    * with axis-aligned planes — cheap, deterministic, portable). Vectors
    * only compete against vectors in the same cell, so the candidate join
    * is a bucket-equi-join instead of a full cross product.
    */
  def signBucket(a: Column, bits: Int): Column =
    GraftBridge.toColumn(SignBucket(GraftBridge.toExpression(a), bits))

  /** The pre-round-6 higher-order-function signBucket — bit-identity
    * reference for the native expression. */
  def signBucketDeclarative(a: Column, bits: Int): Column =
    aggregate(
      zip_with(slice(d(a), 1, bits), sequence(lit(0), lit(bits - 1)),
        (v, i) => when(v > 0, expr("1").cast("long") * pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)

  private[functions] def elemAsDouble(arr: ArrayData, i: Int, et: DataType): Double =
    et match {
      case FloatType => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case IntegerType => arr.getInt(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case ShortType => arr.getShort(i).toDouble
      case ByteType => arr.getByte(i).toDouble
      case other => throw new IllegalStateException(s"unsupported element $other")
    }

  private[functions] def numericArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType |
      ShortType | ByteType, _) => true
    case _ => false
  }
}

/** Native cosine — semantics replicated from `cosineDeclarative` exactly:
  * sums accumulate left-to-right in element order (same FP rounding), a
  * null ELEMENT nulls the result (the declarative chain's null product /
  * null sum propagation), `den == 0` (both sides all-zero) short-circuits
  * to 0.0 BEFORE the length check (when(den === 0) fires first), and
  * mismatched lengths otherwise null the dot (zip_with pads with null). */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorFunctions.numericArray(left.dataType) &&
        VectorFunctions.numericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs numeric arrays, got ${left.dataType} / ${right.dataType}")

  @transient private lazy val etL =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val etR =
    right.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    while (i < na) { if (a.isNullAt(i)) return null; i += 1 }
    i = 0
    while (i < nb) { if (b.isNullAt(i)) return null; i += 1 }
    var sa = 0.0
    i = 0
    while (i < na) {
      val v = VectorFunctions.elemAsDouble(a, i, etL); sa += v * v; i += 1
    }
    var sb = 0.0
    i = 0
    while (i < nb) {
      val v = VectorFunctions.elemAsDouble(b, i, etR); sb += v * v; i += 1
    }
    val den = math.sqrt(sa) * math.sqrt(sb)
    if (den == 0.0) return java.lang.Double.valueOf(0.0)
    if (na != nb) return null
    var dot = 0.0
    i = 0
    while (i < na) {
      dot += VectorFunctions.elemAsDouble(a, i, etL) *
        VectorFunctions.elemAsDouble(b, i, etR)
      i += 1
    }
    java.lang.Double.valueOf(dot / den)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native sign-pattern cell id — semantics replicated from
  * `signBucketDeclarative` exactly: bit i (i < bits) is set iff the array
  * has an i-th element, it is non-null, and it is > 0 under SPARK's
  * comparison (NaN sorts above every value in Spark SQL, so a NaN element
  * SETS its bit — unlike Java's `NaN > 0`); null / missing elements
  * contribute 0 (the declarative `when(v > 0, …).otherwise(0)` over the
  * null-padded zip). */
case class SignBucket(child: Expression, bits: Int)
  extends UnaryExpression with CodegenFallback {

  // the native `1L << i` wraps past bit 63 while the declarative
  // pow(2, i) saturates, so the bit-identity only holds in 1..63
  require(1 <= bits && bits <= 63, s"sign_bucket bits must be in 1..63, got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sign_bucket"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorFunctions.numericArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sign_bucket needs a numeric array, got ${child.dataType}")

  @transient private lazy val et =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), bits)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = VectorFunctions.elemAsDouble(a, i, et)
        if (v > 0 || v.isNaN) acc += 1L << i // Spark: NaN > 0 is TRUE
      }
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBucket =
    copy(child = newChild)
}
