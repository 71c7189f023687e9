package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a text column in ONE native pass —
  * byte-identical to `TextFunctions.shinglesDeclarative` (pinned by
  * TextFunctionsSpec).
  *
  * The declarative form builds each shingle inside a `transform` lambda
  * from `element_at` of the word array, and Catalyst neither hoists the
  * lambda-invariant `split(trim(text))` out of the lambda nor compiles
  * `ArrayTransform` (a `CodegenFallback`): every shingle re-split the
  * whole text, O(L²) per row. Here the words are split once (`TextNorm`,
  * the tokenizer `MinHashSignature` shares), joined by single spaces into
  * one fresh array, and every shingle is a zero-copy byte range of it.
  *
  * Semantics replicated exactly:
  *   - words = split(trim(text), " +") (0x20 only; tabs/newlines stay
  *     inside words);
  *   - shingle i = words i .. i+n-1 joined by " ";
  *   - 0 < #words < n → one whole-text shingle (the words joined by " ");
  *   - empty/all-space text → [];
  *   - NULL text → NULL.
  */
case class Shingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"shingle n=$n must be >= 1")

  // the declarative CASE WHEN's merged type
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"shingles needs string, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].getBytes
    val spans = TextNorm.wordSpans(raw)
    val nWords = spans.length / 2
    // the shingles view `text`, a fresh array no other row reuses
    val text = TextNorm.collapse(raw, spans)
    val win = math.min(nWords, n)
    val out = new Array[Any](if (nWords == 0) 0 else nWords - win + 1)
    var s = 0
    while (s < out.length) {
      val from = spans(2 * s)
      out(s) = UTF8String.fromBytes(text, from, spans(2 * (s + win - 1) + 1) - from)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  def of(text: Column, n: Int): Column =
    GraftBridge.toColumn(Shingles(GraftBridge.toExpression(text), n))
}
