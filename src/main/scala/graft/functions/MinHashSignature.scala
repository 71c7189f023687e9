package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** k-element MinHash signature of a text column in ONE native pass —
  * byte-identical to the declarative md5 fold it replaces
  * (`TextFunctions.minhashSignatureFold`, kept as the reference form and
  * pinned equal by TextFunctionsSpec).
  *
  * Why a custom Catalyst Expression (SURVEY.md §2.11 preference order):
  * the declarative fold evaluates `aggregate`/`zip_with` higher-order
  * functions interpreted per shingle, allocating k md5 HEX STRINGS plus
  * two lambda arrays per shingle — measured ~4.3 ms·core per document at
  * 30 M pages (the op that dominated the round-5 compute-scaling leg).
  * This expression splits the words once (`TextNorm`, the tokenizer it
  * shares with `Shingles`), walks the shingle windows as byte ranges of
  * the space-collapsed text, digests into ONE reusable per-thread 16-byte
  * scratch (`MessageDigest.digest(buf, off, len)`), and keeps k running
  * minima as raw digests — no per-shingle allocation at all. Hex
  * rendering happens once, on the k winners, so the output (and therefore
  * every LSH band key, q28/q29 and their DuckDB oracles) is unchanged.
  *
  * Semantics replicated exactly from the declarative form:
  *   - words  = split(trim(text), " +")   (trim strips 0x20 only — Spark's
  *     `trim` — and the regex split matches Spark's `split(str, " +")`)
  *   - shingles = word n-grams joined by " "; texts with 0 < #words < n
  *     yield ONE whole-text shingle; empty/all-space text yields none
  *   - signature(i) = min over shingles of hex(md5(utf8("i|" + shingle)))
  *     — minimizing the raw digest bytes unsigned-lexicographically is
  *     order-identical to minimizing the lowercase-hex strings
  *   - no shingles → k NULL entries (the fold's untouched init array);
  *     NULL text → NULL signature
  *
  * Digest minima are per-seed independent, so the value is partition- and
  * order-invariant (checkpoint-resume determinism, SURVEY.md §7.6(5)).
  */
case class MinHashSignature(child: Expression, shingleN: Int, k: Int)
  extends UnaryExpression with CodegenFallback {

  require(shingleN >= 1 && k >= 1, s"shingleN=$shingleN k=$k must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"minhash_signature needs string, got $other")
    }

  // per-seed md5 prefixes "0|", "1|", … — the declarative form's
  // md5(concat(lit(s"$seed|"), shingle)) byte streams
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"$i|".getBytes("UTF-8"))

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].getBytes
    val spans = TextNorm.wordSpans(raw)
    val nWords = spans.length / 2
    if (nWords == 0) return new GenericArrayData(new Array[Any](k)) // k nulls
    val text = TextNorm.collapse(raw, spans)
    val win = math.min(nWords, shingleN)

    val md = SimHash64.localMd5.get()
    md.reset()
    val scratch = SimHash64.localDigestBuf.get()
    val minima = new Array[Byte](16 * k)
    var s = 0
    while (s <= nWords - win) {
      // shingle s: words s .. s+win-1, contiguous in the collapsed text
      val from = spans(2 * s)
      val len = spans(2 * (s + win - 1) + 1) - from
      var seed = 0
      while (seed < k) {
        md.update(prefixes(seed))
        md.update(text, from, len)
        md.digest(scratch, 0, 16) // finalizes into scratch and resets md
        if (s == 0 || MinHashSignature.unsignedLess(scratch, 0, minima, 16 * seed))
          System.arraycopy(scratch, 0, minima, 16 * seed, 16)
        seed += 1
      }
      s += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) { out(i) = MinHashSignature.hex(minima, 16 * i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  private val HexBytes = "0123456789abcdef".getBytes("US-ASCII")

  /** Unsigned-lexicographic `a[aOff, aOff+16) < b[bOff, bOff+16)` — the
    * order of the digests' lowercase-hex renderings. */
  private[functions] def unsignedLess(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(aOff + i) & 0xff
      val bi = b(bOff + i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** The 16-byte digest at `d[off]` as Spark `md5` renders it: 32
    * lowercase hex characters. */
  private[functions] def hex(d: Array[Byte], off: Int): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexBytes((d(off + i) >> 4) & 0xf)
      out(2 * i + 1) = HexBytes(d(off + i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def of(text: Column, shingleN: Int, k: Int): Column =
    GraftBridge.toColumn(
      MinHashSignature(GraftBridge.toExpression(text), shingleN, k))
}
