package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for web-scale corpora: shingling, MinHash,
  * n-gram Jaccard, fingerprinting, token counting, language-ID and quality
  * scoring. Every function is per-row and embarrassingly parallel — no
  * shuffle until the caller aggregates — and none is a Scala UDF.
  *
  * The row-level text work runs in native one-pass Catalyst expressions
  * (`CodegenFallback`, sharing `TextNorm`'s tokenizer and case mapping):
  * `shingles` (`Shingles`), `minhashSignature` (`MinHashSignature`),
  * `fingerprint` (`NormFingerprint`), `bottomK` (`NormBottomK`),
  * `tokenCount`/`subwordTokenCount` (`TokenCounts`), `langScore`/`langId`
  * (`MarkerCounts`) and SimHash (`SimHash64`). TextFunctionsSpec pins
  * each byte-identical to a builtin reference form (the
  * `private[graft]` `*Declarative`/`*Fold` chains here; SimHash's over
  * `words`). The rest are builtin column arithmetic.
  *
  * Why natives: a higher-order lambda (`transform`, `aggregate`) is
  * evaluated interpreted per element, and Catalyst does not hoist a
  * lambda-invariant subtree out of it. A lambda that holds the text's
  * normalization (`split(trim(text))`, `lower`, `regexp_replace`)
  * re-normalizes the whole text once per element — O(L²) per row. So
  * lambdas here may only touch their element (`minhash`); anything that
  * reads the whole text runs once per row, natively. PlanSpec guards q28
  * and q35 for this.
  *
  * Hashing is md5-based: deterministic across JVMs, partitions and engines
  * (the DuckDB oracle computes the identical md5 strings), unlike
  * `hash()`/`xxhash64` whose seeds are engine-specific.
  */
object TextFunctions {

  /** Whitespace word array. `split(trim(x), " +")`, empty text → empty array. */
  def words(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), " +"))

  /** Whitespace token count — routed through the native one-pass
    * `TokenCount` expression (byte-identical to the declarative reference
    * form below, pinned by TextFunctionsSpec). */
  def tokenCount(text: Column): Column = TokenCounts.tokens(text)

  /** Declarative reference form of [[tokenCount]] — the portable
    * arithmetic the DuckDB oracles compute; kept as the semantic spec the
    * native expression is tested against. */
  private[graft] def tokenCountDeclarative(text: Column): Column = {
    val t = regexp_replace(trim(text), " +", " ")
    when(length(t) === 0, lit(0L))
      .otherwise((length(t) - length(regexp_replace(t, " ", "")) + 1).cast("long"))
  }

  /** BPE-ish sub-word token count: runs of letters, runs of digits, or a
    * single other non-space char each count as one token — routed through
    * the native one-pass `SubwordTokenCount` expression (pinned equal to
    * the declarative form below). */
  def subwordTokenCount(text: Column): Column = TokenCounts.subwords(text)

  /** Declarative reference form of [[subwordTokenCount]]. */
  private[graft] def subwordTokenCountDeclarative(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  /** Word n-gram shingles (n >= 1). Docs shorter than n words yield a single
    * whole-text shingle so every doc gets a signature. Routed through the
    * native one-pass `Shingles` expression (byte-identical to the
    * declarative form below). */
  def shingles(text: Column, n: Int): Column = Shingles.of(text, n)

  /** Declarative reference form of [[shingles]] — the shape the DuckDB
    * oracles compute. All element_at indices stay in bounds (ANSI mode). */
  private[graft] def shinglesDeclarative(text: Column, n: Int): Column = {
    val w = words(text)
    val full = transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(w, i + o)): _*))
    when(size(w) === 0, array().cast("array<string>"))
      .when(size(w) < n, array(array_join(w, " ")))
      .otherwise(full)
  }

  /** One MinHash value: min over shingles of md5(seed|shingle). Min over the
    * hex strings is an order-isomorphic proxy for min over 128-bit ints. */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(lit(s"$seed|"), s))))

  /** k-element MinHash signature (array<string>). Per-row, no shuffle.
    *
    * Routed through the native `MinHashSignature` expression: the
    * declarative fold below evaluates interpreted higher-order lambdas
    * per shingle and allocates k md5 hex strings each time — measured
    * ~4.3 ms·core per document at 30 M pages, the single most expensive
    * per-row op in the engine (round-5 compute-scaling leg). The native
    * pass produces byte-identical values (TextFunctionsSpec pins all
    * three forms equal, including the empty-text → k-nulls case), so
    * LSH bands, q28/q29 and their oracles are unchanged.
    */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column =
    MinHashSignature.of(text, shingleN, k)

  /** The declarative reference form of [[minhashSignature]] — folds the
    * shingle array ONCE, carrying the k running minima via
    * `zip_with(least)` (the naive `array(minhash(sh, 0), …)` form
    * re-evaluates the whole shingle construction k times per row).
    * Values: per seed, min over shingles of md5(seed|shingle); an empty
    * shingle array yields k nulls (aggregate keeps the null init;
    * `least` skips nulls). Kept builtin-only as the semantic spec the
    * native expression is tested against. */
  private[graft] def minhashSignatureFold(text: Column, shingleN: Int, k: Int): Column = {
    val sh = shinglesDeclarative(text, shingleN)
    val init = array_repeat(lit(null).cast("string"), k)
    aggregate(sh, init, (acc, s) =>
      zip_with(acc,
        array((0 until k).map(seed => md5(concat(lit(s"$seed|"), s))): _*),
        (a, h) => least(a, h)))
  }

  /** LSH band keys: signature split into `bands` concatenated groups.
    * Docs sharing any band key are near-dup candidates → groupBy(band). */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("", lit(s"b$b:") +: (0 until rowsPerBand)
        .map(r => element_at(signature, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** Exact n-gram Jaccard similarity between two texts (verification step
    * after LSH candidate generation). */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(shingles(a, n))
    val sb = array_distinct(shingles(b, n))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Exact-dup fingerprint: md5 of whitespace-normalized lowercase text.
    * Routed through the native single-pass `NormFingerprint` expression
    * (byte-identical to the declarative reference form below, pinned by
    * TextFunctionsSpec). */
  def fingerprint(text: Column): Column = NormFingerprint.of(text)

  /** Declarative reference form of [[fingerprint]] — kept as the semantic
    * spec the native expression is tested against (and the shape the
    * DuckDB oracles compute). */
  private[graft] def fingerprintDeclarative(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), " +", " "))

  /** Bottom-k sketch of char k-gram hashes — a winnowing-style document
    * fingerprint; overlap of bottom-k sets estimates resemblance. Routed
    * through the native one-pass `NormBottomK` expression (byte-identical
    * to the declarative form below). */
  def bottomK(text: Column, gram: Int, k: Int): Column = NormBottomK.of(text, gram, k)

  /** Declarative reference form of [[bottomK]] — the shape the DuckDB
    * oracle of q35 computes. */
  private[graft] def bottomKDeclarative(text: Column, gram: Int, k: Int): Column = {
    val t = regexp_replace(lower(trim(text)), " +", " ")
    slice(array_sort(transform(
      sequence(lit(1), greatest(length(t) - (gram - 1), lit(1))),
      i => md5(t.substr(i, lit(gram))))), 1, k)
  }

  // ---- language ID (marker-word heuristic) --------------------------------

  /** Languages and their marker words, ordered — order is the deterministic
    * tie-break (first wins). Marker occurrences counted with word padding. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "nicht"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "que"),
    "zh" -> Seq("de5", "shi4", "le5")
  )

  /** Count occurrences of `word` as a whole token: pad with spaces, then
    * (len - len(remove)) / len(pattern) — portable to any SQL engine. */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val pat = s" $word "
    // overlapping " w w " cases need the non-regex count on a
    // double-padded string: replace consumes the trailing space
    val padded2 = regexp_replace(padded, " ", "  ")
    ((length(padded2) - length(regexp_replace(padded2, s" $word ", ""))) / lit(pat.length))
      .cast("long")
  }

  /** Per-language marker score — routed through the one-pass native
    * `MarkerCounts` tokenizer (the declarative reference form below ran
    * two regexp_replace passes per marker word; TextFunctionsSpec pins
    * the equality, including null propagation). */
  def langScore(text: Column, lang: String): Column = {
    val idx = langMarkers.indexWhere(_._1 == lang)
    if (idx < 0) lit(0L)
    else element_at(MarkerCounts.of(text, langMarkers.map(_._2)), idx + 1)
  }

  /** Declarative reference form of [[langScore]]. */
  private[graft] def langScoreDeclarative(text: Column, lang: String): Column =
    langMarkers.toMap.getOrElse(lang, Seq.empty)
      .map(w => wordOccurrences(text, w))
      .reduceOption(_ + _).getOrElse(lit(0L))

  /** Predicted language: argmax of marker scores, ties broken by
    * `langMarkers` order; all-zero scores → "und" (undetermined). */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, _) => l -> langScore(text, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val cases = scores.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (l, s)) => acc.when(s === best, lit(l))
    }
    cases.otherwise(lit("und"))
  }

  // ---- quality scoring ----------------------------------------------------

  /** Heuristic quality score in [0,1]: blends length, mean word length,
    * punctuation density and stopword presence — the standard web-text
    * pretraining filters, all as portable column arithmetic. */
  def qualityScore(text: Column): Column = {
    val t = trim(text)
    val nChars = length(t).cast("double")
    val nTok = tokenCount(t).cast("double")
    val meanWordLen = when(nTok > 0, nChars / nTok).otherwise(lit(0.0))
    val punct = (length(t) - length(regexp_replace(t, "[^a-z0-9 ]", ""))).cast("double")
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(1.0))
    val stopRatio = when(nTok > 0, langScore(t, "en").cast("double") / nTok).otherwise(lit(0.0))
    val lenScore = least(nChars / lit(500.0), lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    val punctScore = lit(1.0) - least(punctRatio * 5.0, lit(1.0))
    val stopScore = least(stopRatio * 10.0, lit(1.0))
    round(lenScore * 0.3 + wordLenScore * 0.2 + punctScore * 0.3 + stopScore * 0.2, 6)
  }
}
