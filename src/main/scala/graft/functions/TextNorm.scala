package graft.functions

import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** The text normalization every native text kernel shares: ONE
  * whitespace tokenizer and ONE case mapping, so the kernels cannot drift
  * apart from each other or from the builtin chains they replace.
  *
  * Tokenizer: the words of `split(trim(text), " +")` are the maximal runs
  * of non-0x20 bytes. Spark's `trim` and the `" +"` split act on the SPACE
  * character only, so tabs and newlines ride inside words; 0x20 never
  * occurs inside a multi-byte UTF-8 code point, so splitting the bytes
  * equals splitting the string.
  *
  * Case mapping: Spark's `lower` under the default UTF8_BINARY collation —
  * the ICU mapping unless `spark.sql.icu.caseMappings.enabled` is off. The
  * JDK's `String.toLowerCase` differs from it on code points newer than
  * the JDK's Unicode tables (e.g. U+10570 VITHKUQI CAPITAL LETTER A).
  */
private[functions] object TextNorm {

  /** Number of words of `b`. */
  def wordCount(b: Array[Byte]): Int = {
    val n = b.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && b(i) == ' ') i += 1
      if (i < n) count += 1
      while (i < n && b(i) != ' ') i += 1
    }
    count
  }

  /** Word spans of `b`, flattened: word i is `b[s(2i), s(2i+1))`. */
  def wordSpans(b: Array[Byte]): Array[Int] = {
    val s = new Array[Int](2 * wordCount(b))
    val n = b.length
    var i = 0
    var w = 0
    while (w < s.length) {
      while (b(i) == ' ') i += 1
      s(w) = i
      while (i < n && b(i) != ' ') i += 1
      s(w + 1) = i
      w += 2
    }
    s
  }

  /** The words joined by single spaces — `regexp_replace(trim(text), " +",
    * " ")` — in a fresh array; `s` is rewritten in place to the spans of
    * the words in that array. */
  def collapse(b: Array[Byte], s: Array[Int]): Array[Byte] = {
    var len = math.max(s.length / 2 - 1, 0)
    var w = 0
    while (w < s.length) { len += s(w + 1) - s(w); w += 2 }
    val out = new Array[Byte](len)
    var o = 0
    w = 0
    while (w < s.length) {
      if (w > 0) { out(o) = ' '; o += 1 }
      val l = s(w + 1) - s(w)
      System.arraycopy(b, s(w), out, o, l)
      s(w) = o
      s(w + 1) = o + l
      o += l
      w += 2
    }
    out
  }

  /** Spark `lower` of `t`; `icu` is [[icuCaseMappings]], read once per
    * expression instance as Spark's `Lower` does. */
  def lower(t: UTF8String, icu: Boolean): UTF8String =
    CollationSupport.Lower.exec(t, CollationFactory.UTF8_BINARY_COLLATION_ID, icu)

  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}
