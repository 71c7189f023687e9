package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-token marker-word counts for ALL language groups in ONE pass —
  * the native form of `TextFunctions.wordOccurrences` summed per language
  * (TextFunctionsSpec pins the equality).
  *
  * The declarative chain evaluated, per language marker, two
  * `regexp_replace` passes over a doubled-length padded copy of the text —
  * 5 languages × 3 markers × (pad + strip + 2 length scans) ≈ 60 regex/
  * string passes per row (the whole cost of q32 and the stopword part of
  * q33). Here the lowered text is tokenized once on 0x20 runs
  * (`TextNorm`, the tokenizer and case mapping of every text kernel; the
  * double-padding construction counts exactly the tokens byte-equal to the
  * marker, splitting on spaces only — tabs/newlines ride inside tokens)
  * and each token is matched against the marker set.
  *
  * Returns array<long> with one PER-LANGUAGE score (sum over that
  * language's markers), in `TextFunctions.langMarkers` order; NULL text →
  * NULL array (the declarative chain's null propagation is reproduced by
  * the callers' when-guards).
  */
case class MarkerCounts(child: Expression, markers: Seq[Seq[String]])
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "marker_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"marker_counts needs string, got $other")
    }

  // flat marker table: (bytes, group index); tokens match at most one entry
  @transient private lazy val table: Array[(Array[Byte], Int)] =
    markers.zipWithIndex.flatMap { case (ws, g) =>
      ws.map(w => (w.getBytes("UTF-8"), g))
    }.toArray

  @transient private lazy val icu = TextNorm.icuCaseMappings

  override def nullSafeEval(input: Any): Any = {
    val bytes = TextNorm.lower(input.asInstanceOf[UTF8String], icu).getBytes
    val spans = TextNorm.wordSpans(bytes)
    val counts = new Array[Long](markers.size)
    var t = 0
    while (t < spans.length) {
      val start = spans(t)
      val len = spans(t + 1) - start
      var m = 0
      while (m < table.length) {
        val w = table(m)._1
        if (w.length == len) {
          var j = 0
          while (j < len && bytes(start + j) == w(j)) j += 1
          if (j == len) { counts(table(m)._2) += 1; m = table.length }
          else m += 1
        } else m += 1
      }
      t += 2
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerCounts =
    copy(child = newChild)
}

object MarkerCounts {
  def of(text: Column, markers: Seq[Seq[String]]): Column =
    GraftBridge.toColumn(MarkerCounts(GraftBridge.toExpression(text), markers))
}
