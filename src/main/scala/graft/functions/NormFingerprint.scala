package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact-dup fingerprint `md5(regexp_replace(lower(trim(text)), " +", " "))`
  * fused into ONE native pass — byte-identical to the declarative chain
  * (TextFunctionsSpec pins the equality), which allocated three full string
  * copies per row (trim → lower → regex-normalized) before hashing. Here
  * the space-run collapse feeds the MD5 digest directly from the lowered
  * bytes segment-by-segment: no normalized copy, no regex engine, one hex
  * render of the 16-byte digest.
  *
  * Semantics replicated exactly:
  *   - trim strips the SPACE character only (Spark `trim`);
  *   - lower is Spark's `lower` (`TextNorm.lower` — the call Spark's
  *     `Lower` expression makes, ICU case mapping by default), applied to
  *     the trimmed slice (case mapping never creates or removes 0x20, so
  *     collapse order is unaffected);
  *   - runs of 0x20 collapse to a single 0x20 (the `" +"` regex matches
  *     spaces only — tabs/newlines pass through untouched);
  *   - md5 renders as 32 lowercase hex chars (Spark `md5`);
  *   - NULL text → NULL; empty/all-space text → md5 of "".
  */
case class NormFingerprint(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "norm_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"norm_fingerprint needs string, got $other")
    }

  @transient private lazy val icu = TextNorm.icuCaseMappings

  override def nullSafeEval(input: Any): Any = {
    val bytes = NormFingerprint.lowered(input.asInstanceOf[UTF8String], icu)
    val spans = TextNorm.wordSpans(bytes)
    val md = SimHash64.localMd5.get()
    md.reset()
    var w = 0
    while (w < spans.length) { // the words, each space run as ONE space
      if (w > 0) md.update(' '.toByte)
      md.update(bytes, spans(w), spans(w + 1) - spans(w))
      w += 2
    }
    val dig = SimHash64.localDigestBuf.get()
    md.digest(dig, 0, 16)
    MinHashSignature.hex(dig, 0)
  }

  override protected def withNewChildInternal(newChild: Expression): NormFingerprint =
    copy(child = newChild)
}

object NormFingerprint {
  /** trim → lower, the first two steps of the declarative chain; the
    * space-run collapse is `TextNorm`'s word split. */
  private[functions] def lowered(t: UTF8String, icu: Boolean): Array[Byte] =
    TextNorm.lower(t.trim(), icu).getBytes

  def of(text: Column): Column =
    GraftBridge.toColumn(NormFingerprint(GraftBridge.toExpression(text)))
}

/** Bottom-k sketch of the normalized text's character `gram`-grams in ONE
  * native pass — byte-identical to `TextFunctions.bottomKDeclarative`
  * (pinned by TextFunctionsSpec).
  *
  * The declarative form computes `regexp_replace(lower(trim(text)))`
  * inside a `transform` lambda over the window positions; Catalyst does
  * not hoist it and `ArrayTransform`/`ArraySort` are `CodegenFallback`, so
  * every window re-normalized the whole text (O(L²) per row) and every
  * window's md5 was rendered as a hex string before sorting. Here the
  * text is normalized once (`NormFingerprint`'s trim → lower → space-run
  * collapse), each window is digested over the UTF-8 bytes, the k
  * smallest raw digests are kept (unsigned-lexicographic digest order is
  * the hex-string order), and only the winners are rendered.
  *
  * Semantics replicated exactly:
  *   - windows are `gram` CODE POINTS (Spark `substring`/`length` count
  *     characters, stepping by `UTF8String.numBytesForFirstByte`);
  *   - a text shorter than `gram` gives one window, the whole text, and an
  *     empty one gives `[md5("")]`;
  *   - duplicate windows count once each (`array_sort` keeps them);
  *   - NULL text → `[null]` (the declarative md5 of a NULL substring), which
  *     `array_join` renders as "".
  */
case class NormBottomK(child: Expression, gram: Int, k: Int)
  extends UnaryExpression with CodegenFallback {

  require(gram >= 1 && k >= 1, s"gram=$gram k=$k must be >= 1")

  // the declarative slice(array_sort(transform(...))) type: never null,
  // null elements only from a NULL text
  override def dataType: DataType = ArrayType(StringType, containsNull = child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "norm_bottom_k"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"norm_bottom_k needs string, got $other")
    }

  @transient private lazy val icu = TextNorm.icuCaseMappings

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array[Any](null)) else nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val lowered = NormFingerprint.lowered(input.asInstanceOf[UTF8String], icu)
    val t = TextNorm.collapse(lowered, TextNorm.wordSpans(lowered))
    val n = t.length
    // code point starts of t, with the end as sentinel
    val cp = new Array[Int](n + 1)
    var chars = 0
    var i = 0
    while (i < n) { cp(chars) = i; chars += 1; i += UTF8String.numBytesForFirstByte(t(i)) }
    cp(chars) = n

    val md = SimHash64.localMd5.get()
    md.reset()
    val dig = SimHash64.localDigestBuf.get()
    val best = new Array[Byte](16 * k) // the `have` smallest digests, ascending
    var have = 0
    var w = 0
    val windows = math.max(chars - gram + 1, 1)
    while (w < windows) {
      val from = cp(w)
      md.update(t, from, cp(math.min(w + gram, chars)) - from)
      md.digest(dig, 0, 16)
      if (have < k || MinHashSignature.unsignedLess(dig, 0, best, 16 * (k - 1))) {
        var p = math.min(have, k - 1) // insertion slot, shifting larger ones up
        while (p > 0 && MinHashSignature.unsignedLess(dig, 0, best, 16 * (p - 1))) {
          System.arraycopy(best, 16 * (p - 1), best, 16 * p, 16)
          p -= 1
        }
        System.arraycopy(dig, 0, best, 16 * p, 16)
        if (have < k) have += 1
      }
      w += 1
    }
    val out = new Array[Any](have)
    var j = 0
    while (j < have) { out(j) = MinHashSignature.hex(best, 16 * j); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NormBottomK =
    copy(child = newChild)
}

object NormBottomK {
  def of(text: Column, gram: Int, k: Int): Column =
    GraftBridge.toColumn(NormBottomK(GraftBridge.toExpression(text), gram, k))
}
