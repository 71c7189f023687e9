package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType, ArrayType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a token array — near-duplicate fingerprint.
  *
  * Custom Catalyst Expression (SURVEY.md §2.11 preference: native
  * expression over Scala UDF): per token take the first 8 bytes of
  * md5(token) as a 64-bit hash, accumulate ±1 per bit position weighted by
  * token multiplicity (counted as ones: Σ±1 = 2·ones − tokens), emit the
  * sign vector as a long (a tie leaves the bit clear). Hamming distance
  * between SimHashes of two documents approximates their cosine distance
  * over token frequency vectors.
  *
  * md5-derived bits keep the value deterministic across JVMs, partitions
  * and restarts — a requirement for checkpoint-resume-identical verdicts
  * (SURVEY.md §7.6(5)).
  */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 needs array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val ones = new Array[Int](64)
    var nTok = 0
    val md = SimHash64.localMd5.get()
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.get(i, StringType).asInstanceOf[UTF8String].getBytes
        md.reset()
        val dig = md.digest(tok)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
        SimHash64.tally(ones, h)
        nTok += 1
      }
      i += 1
    }
    java.lang.Long.valueOf(SimHash64.signs(ones, nTok))
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** SimHash64 fused with the whitespace tokenization — semantically
  * identical to `SimHash64(words(text))` (SimHashSpec pins the equality),
  * but one pass over the raw UTF-8 bytes (`TextNorm`'s word split): no
  * `split` regex, no token array materialization, no per-token UTF8String
  * allocation, and the MD5 digest instance is thread-local instead of
  * constructed per row. The
  * signature pass over the 2 M-page bench corpus was the near-dup leg's
  * second-largest cost after the pair join (guide §1.2 step 2: per-task
  * work, after the distributed shape is right).
  *
  * Tokenization contract (must match TextFunctions.words exactly): tokens
  * are maximal runs of non-0x20 bytes of the space-trimmed text — split
  * on SPACE only (tabs/newlines ride inside tokens, as with
  * `split(trim(text), " +")`); empty/all-space text yields no tokens
  * (simhash 0), null text yields null. */
case class SimHashText(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64_text"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64_text needs string, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val spans = TextNorm.wordSpans(bytes)
    val ones = new Array[Int](64)
    val md = SimHash64.localMd5.get()
    val dig = SimHash64.localDigestBuf.get()
    var w = 0
    while (w < spans.length) {
      md.reset()
      md.update(bytes, spans(w), spans(w + 1) - spans(w))
      md.digest(dig, 0, 16)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
      SimHash64.tally(ones, h)
      w += 2
    }
    java.lang.Long.valueOf(SimHash64.signs(ones, spans.length / 2))
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

object SimHash64 {
  /** Add the set bits of one token hash to the per-bit counts of ones —
    * branch-free, so the loop does not mispredict on random hash bits. */
  private[functions] def tally(ones: Array[Int], h: Long): Unit = {
    var bit = 0
    while (bit < 64) { ones(bit) += ((h >>> bit) & 1L).toInt; bit += 1 }
  }

  /** The sign vector of the ±1 tally: bit b is set iff more than half of
    * the `nTok` tokens set it (Σ±1 = 2·ones − nTok > 0); a tie stays clear. */
  private[functions] def signs(ones: Array[Int], nTok: Int): Long = {
    var out = 0L
    var bit = 0
    while (bit < 64) { out |= (if (2 * ones(bit) > nTok) 1L else 0L) << bit; bit += 1 }
    out
  }

  /** Per-thread MD5 instance — `MessageDigest.getInstance` does a provider
    * lookup per call and digests are not thread-safe to share. */
  private[functions] val localMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Per-thread 16-byte digest scratch — `md.digest()` otherwise allocates
    * a fresh array per token (~100 M allocations per 2 M-page sig pass). */
  private[functions] val localDigestBuf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16))

  /** Column API: simhash of the whitespace tokens of `text` — the fused
    * single-pass byte-level form (byte-identical to
    * `ofTokens(words(text))`, SimHashSpec). */
  def ofText(text: Column): Column =
    GraftBridge.toColumn(SimHashText(GraftBridge.toExpression(text)))

  def ofTokens(tokens: Column): Column =
    GraftBridge.toColumn(SimHash64(GraftBridge.toExpression(tokens)))

  /** Hamming distance between two simhashes (builtin bit ops, codegen'd). */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b)).cast("int")
}
