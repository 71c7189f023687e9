package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass token counters — the regex-free forms of
  * `TextFunctions.tokenCount` / `subwordTokenCount` (TextFunctionsSpec
  * pins both equal to the declarative reference forms, including null
  * propagation and unicode edge cases).
  *
  * The declarative forms ran two `regexp_replace` passes (whitespace
  * count) and a `regexp_extract_all` that MATERIALIZES an array of match
  * strings per row just to take its size (subword count) — regex-engine
  * work and per-row allocation that also carried a multi-second one-time
  * java.util.regex + codegen JIT cost into the first q34 run of a
  * session. The native forms classify the UTF-8 bytes directly.
  */

/** Whitespace token count: the number of maximal runs of non-0x20 bytes
  * (split on SPACE only — tabs/newlines ride inside tokens, exactly
  * `regexp_replace(trim(x), " +", " ")` arithmetic). Empty/all-space
  * text → 0; NULL → NULL. */
case class TokenCount(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "token_count"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"token_count needs string, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    java.lang.Long.valueOf(TextNorm.wordCount(input.asInstanceOf[UTF8String].getBytes).toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** BPE-ish sub-word token count over the LOWERCASED text: one token per
  * maximal [a-z] run, per maximal [0-9] run, and per single non-[a-z0-9 ]
  * CODE POINT — exactly Java regex's non-overlapping matching of
  * `[a-z]+|[0-9]+|[^a-z0-9 ]` (character classes match code points, so a
  * 4-byte supplementary character counts once; spaces match nothing).
  * Lowercasing is `TextNorm.lower` — the call Spark's `Lower` makes
  * under the default collation, so characters that
  * lowercase INTO ASCII (e.g. KELVIN SIGN → 'k') merge into letter runs
  * identically. NULL → NULL (size(null) is null under the default
  * non-legacy conf). */
case class SubwordTokenCount(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "subword_token_count"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"subword_token_count needs string, got $other")
    }

  @transient private lazy val icu = TextNorm.icuCaseMappings

  override def nullSafeEval(input: Any): Any = {
    val bytes = TextNorm.lower(input.asInstanceOf[UTF8String], icu).getBytes
    var count = 0L
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') i += 1
      else if (b >= 'a' && b <= 'z') {
        count += 1
        while (i < n && bytes(i) >= 'a' && bytes(i) <= 'z') i += 1
      } else if (b >= '0' && b <= '9') {
        count += 1
        while (i < n && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      } else {
        count += 1
        // skip ONE code point: UTF-8 lead byte gives the length (a
        // defensive 1 for continuation/invalid leads — cannot occur at a
        // char boundary of a valid UTF8String)
        val len =
          if ((b & 0x80) == 0) 1
          else if ((b & 0xE0) == 0xC0) 2
          else if ((b & 0xF0) == 0xE0) 3
          else if ((b & 0xF8) == 0xF0) 4
          else 1
        i += len
      }
    }
    java.lang.Long.valueOf(count)
  }

  override protected def withNewChildInternal(newChild: Expression): SubwordTokenCount =
    copy(child = newChild)
}

object TokenCounts {
  def tokens(text: Column): Column =
    GraftBridge.toColumn(TokenCount(GraftBridge.toExpression(text)))
  def subwords(text: Column): Column =
    GraftBridge.toColumn(SubwordTokenCount(GraftBridge.toExpression(text)))
}
