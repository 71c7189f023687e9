package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("v")).collect()(0).getAs[T]("v")

  test("tokenCount counts whitespace tokens, handles empties and runs") {
    assert(one[Long](TextFunctions.tokenCount($"t"), "a b c") == 3L)
    assert(one[Long](TextFunctions.tokenCount($"t"), "  a   b  ") == 2L)
    assert(one[Long](TextFunctions.tokenCount($"t"), "") == 0L)
    assert(one[Long](TextFunctions.tokenCount($"t"), "word") == 1L)
  }

  test("subwordTokenCount splits letter/digit/punct runs") {
    assert(one[Long](TextFunctions.subwordTokenCount($"t"), "ab 12 c.") == 4L)
  }

  test("shingles: n-grams, short docs collapse to whole text") {
    val sh = Seq("a b c d").toDF("t")
      .select(TextFunctions.shingles($"t", 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFunctions.shingles($"t", 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(short == Seq("a b"))
    val empty = Seq("").toDF("t")
      .select(TextFunctions.shingles($"t", 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("minhash signature is deterministic and permutation-stable") {
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("t")
    val s1 = df.select(TextFunctions.minhashSignature($"t", 3, 4).as("s"))
      .collect()(0).getSeq[String](0)
    val s2 = df.select(TextFunctions.minhashSignature($"t", 3, 4).as("s"))
      .collect()(0).getSeq[String](0)
    assert(s1 == s2 && s1.size == 4)
  }

  test("native signature equals the fold and the naive per-seed minhash forms") {
    // three implementations, one semantics: the native MinHashSignature
    // expression (production path), the aggregate+zip_with fold, and the
    // naive per-seed array_min — byte-identical on every edge the word/
    // shingle pipeline has: short docs, empty text, all-space text, space
    // runs, leading/trailing spaces, embedded tabs/newlines (NOT split —
    // Spark trim/split are 0x20-only), unicode, and NULL text.
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "one two", "solo", "", "   ", "  a   b  c ", "a\tb\nc d",
      "héllo wörld déjà vu", null).toDF("t")
    val sh = TextFunctions.shingles($"t", 3)
    val naive = array((0 until 4).map(s => TextFunctions.minhash(sh, s)): _*)
    val rows = df.select(TextFunctions.minhashSignature($"t", 3, 4).as("native"),
      TextFunctions.minhashSignatureFold($"t", 3, 4).as("fold"),
      naive.as("naive")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) {
        assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
        assert(r.getSeq[String](0) == r.getSeq[String](2), r.toString)
      }
    }
  }

  test("identical texts share all minhashes; disjoint texts share none") {
    val df = Seq(("a b c d e f", "a b c d e f", "x y z w v u")).toDF("t1", "t2", "t3")
    val r = df.select(
      TextFunctions.minhashSignature($"t1", 2, 8).as("s1"),
      TextFunctions.minhashSignature($"t2", 2, 8).as("s2"),
      TextFunctions.minhashSignature($"t3", 2, 8).as("s3")).collect()(0)
    assert(r.getSeq[String](0) == r.getSeq[String](1))
    assert(r.getSeq[String](0).zip(r.getSeq[String](2)).count { case (a, b) => a == b } == 0)
  }

  test("ngramJaccard: identity 1, disjoint 0") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("a", "b", "c")
    val r = df.select(
      TextFunctions.ngramJaccard($"a", $"b", 2).as("same"),
      TextFunctions.ngramJaccard($"a", $"c", 2).as("diff")).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("wordOccurrences counts overlapping-separator tokens") {
    assert(one[Long](TextFunctions.wordOccurrences($"t", "the"), "the the the") == 3L)
    assert(one[Long](TextFunctions.wordOccurrences($"t", "the"), "then other lathe") == 0L)
    assert(one[Long](TextFunctions.wordOccurrences($"t", "the"), "the") == 1L)
  }

  test("langId picks the marker-dominant language deterministically") {
    assert(one[String](TextFunctions.langId($"t"), "the cat and the dog of note") == "en")
    assert(one[String](TextFunctions.langId($"t"), "der hund und der nicht") == "de")
    assert(one[String](TextFunctions.langId($"t"), "xyz qqq zzz") == "und")
  }

  test("simhash: equal tokens → 0 hamming; near text → small hamming") {
    val df = Seq(("a b c d e f g h i j", "a b c d e f g h i j",
      "a b c d e f g h i k")).toDF("t1", "t2", "t3")
    val r = df.select(
      SimHash64.hamming(SimHash64.ofText($"t1"), SimHash64.ofText($"t2")).as("same"),
      SimHash64.hamming(SimHash64.ofText($"t1"), SimHash64.ofText($"t3")).as("near"))
      .collect()(0)
    assert(r.getInt(0) == 0)
    assert(r.getInt(1) > 0 && r.getInt(1) <= 32, s"near hamming ${r.getInt(1)}")
  }

  test("langScore/langId native marker counts ≡ declarative regex chain, incl. edges") {
    val texts = Seq(
      "the cat and the dog of note", "der hund und der nicht", "xyz qqq zzz",
      "", "   ", "the", " the ", "THE AND OF", "the  and   of", "a\tthe b",
      "lathe then other", "le la et el los que de5 shi4 le5", null,
      "the the the the und und et et")
    val df = texts.toDF("t")
    val langs = TextFunctions.langMarkers.map(_._1)
    val cols = langs.flatMap(l => Seq(
      TextFunctions.langScore($"t", l).as(s"n_$l"),
      TextFunctions.langScoreDeclarative($"t", l).as(s"d_$l"))) ++
      Seq(TextFunctions.langId($"t").as("pred"))
    val rows = df.select(cols: _*).collect()
    rows.zip(texts).foreach { case (row, t) =>
      langs.indices.foreach { i =>
        val (n, d) = (row.get(2 * i), row.get(2 * i + 1))
        assert(n == d, s"langScore mismatch for '$t' lang=${langs(i)}: $n vs $d")
      }
    }
    // langId must agree with a declarative argmax over the reference scores
    val declPred = df.select({
      val scores = langs.map(l => l -> TextFunctions.langScoreDeclarative($"t", l))
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldLeft(when(best === 0, lit("und"))) {
        case (acc, (l, s)) => acc.when(s === best, lit(l))
      }.otherwise(lit("und")).as("pred")
    }).collect().map(_.getString(0))
    rows.map(_.getString(2 * langs.size)).zip(declPred).zip(texts).foreach {
      case ((n, d), t) => assert(n == d, s"langId mismatch for '$t': $n vs $d")
    }
  }

  test("simhash fused text form ≡ token-array form (byte-identical), incl. edges") {
    // edges: empty, all-spaces, leading/trailing/multiple spaces, tabs and
    // newlines INSIDE tokens (split is on 0x20 only), unicode, repeats
    // (multiplicity weighting), and a null row
    val texts = Seq(
      "a b c d e f g h i j", "", "   ", "  lead", "trail  ", " a  b   c ",
      "tab\tinside one", "line\nbreak stays", "héllo wörld ünïcode",
      "dup dup dup dup other", "single", "a", null,
      (1 to 200).map(i => s"tok$i").mkString(" "))
    val df = texts.toDF("t")
    val r = df.select(
      SimHash64.ofText($"t").as("fused"),
      SimHash64.ofTokens(TextFunctions.words($"t")).as("ref"))
      .collect()
    r.zip(texts).foreach { case (row, t) =>
      assert(row.isNullAt(0) == row.isNullAt(1), s"null mismatch for '$t'")
      if (!row.isNullAt(0))
        assert(row.getLong(0) == row.getLong(1), s"simhash mismatch for '$t'")
    }
  }

  test("fingerprint native form ≡ declarative md5 chain (byte-identical), incl. edges") {
    val texts = Seq(
      "Hello  World", "hello world", "", "   ", "  Lead", "Trail  ",
      " A  B   C ", "tab\tKEEPS", "line\nBreak", "HÉLLO Wörld ÜNÏCODE",
      "x", null, (1 to 100).map(i => s"W$i ").mkString("  "))
    val df = texts.toDF("t")
    val r = df.select(
      TextFunctions.fingerprint($"t").as("nat"),
      TextFunctions.fingerprintDeclarative($"t").as("ref")).collect()
    r.zip(texts).foreach { case (row, t) =>
      assert(row.isNullAt(0) == row.isNullAt(1), s"null mismatch for '$t'")
      if (!row.isNullAt(0))
        assert(row.getString(0) == row.getString(1), s"fingerprint mismatch for '$t'")
    }
  }

  test("fingerprint normalizes whitespace and case") {
    val df = Seq(("Hello  World", "hello world")).toDF("a", "b")
    val r = df.select(TextFunctions.fingerprint($"a").as("fa"),
      TextFunctions.fingerprint($"b").as("fb")).collect()(0)
    assert(r.getString(0) == r.getString(1))
  }

  test("cosine: identical = 1, orthogonal = 0, zero-vector safe") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), Seq(-2.0f, 1.0f), Seq(0.0f, 0.0f)))
      .toDF("a", "b", "c", "z")
    val r = df.select(
      VectorFunctions.cosine($"a", $"b").as("same"),
      VectorFunctions.cosine($"a", $"c").as("orth"),
      VectorFunctions.cosine($"a", $"z").as("zero")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(r.getDouble(2) == 0.0)
  }

  test("native token counters ≡ declarative regex forms") {
    // unicode stress: KELVIN SIGN (U+212A) lowercases INTO ascii 'k' and
    // must merge into a letter run; İ (U+0130) lowercases to i + combining
    // dot (two code points); emoji are single supplementary code points
    val cases = Seq(
      "hello world", "", "   ", "a", "  a  b  ", "tab\tin token",
      "line\nbreak here", "abc123def", "a1b2", "!!", "a,b;c", "..a..",
      "héllo wörld", "ΣΊΣΥΦΟΣ ΑΒΓ", "Kelvin İstanbul",
      "😀😀 ab 😀1", "mixed 😀x7!q  ", "0 1 22 333", "a-b_c d.e",
      "ALLCAPS Text", "ⱯⱯ unicase", null)
    val df = cases.toDF("t")
    val r = df.select(
      TextFunctions.tokenCount($"t").as("tn"),
      TextFunctions.tokenCountDeclarative($"t").as("td"),
      TextFunctions.subwordTokenCount($"t").as("sn"),
      TextFunctions.subwordTokenCountDeclarative($"t").as("sd")).collect()
    r.zip(cases).foreach { case (row, c) =>
      assert(row.isNullAt(0) == row.isNullAt(1) &&
        (row.isNullAt(0) || row.getLong(0) == row.getLong(1)),
        s"tokenCount('$c'): native ${row.get(0)} vs declarative ${row.get(1)}")
      assert(row.isNullAt(2) == row.isNullAt(3) &&
        (row.isNullAt(2) || row.getLong(2) == row.getLong(3)),
        s"subwordTokenCount('$c'): native ${row.get(2)} vs declarative ${row.get(3)}")
    }
  }

  test("native cosine/signBucket ≡ declarative HOF forms (bit-identical)") {
    // randomized float vectors + every edge the declarative chain handles
    // specially: null array, null element, NaN, all-zero both sides
    // (den==0 → 0.0 even when lengths differ), length mismatch (→ null),
    // negatives/zeros in the sign pattern, arrays shorter than `bits`
    val rng = new scala.util.Random(7)
    val rand = (1 to 200).map { _ =>
      val n = 1 + rng.nextInt(80)
      (Seq.fill(n)((rng.nextFloat() - 0.5f) * 10f).map(Option(_)),
        Seq.fill(n)((rng.nextFloat() - 0.5f) * 10f).map(Option(_)))
    }
    val edges: Seq[(Seq[Option[Float]], Seq[Option[Float]])] = Seq(
      (Seq(Some(1f), None, Some(3f)), Seq(Some(1f), Some(2f), Some(3f))),
      (Seq(Some(1f), Some(2f)), Seq(Some(1f), None)),
      (Seq(Some(Float.NaN), Some(1f)), Seq(Some(1f), Some(1f))),
      (Seq(Some(0f), Some(0f)), Seq(Some(0f), Some(0f), Some(0f))),
      (Seq(Some(1f), Some(2f), Some(3f)), Seq(Some(1f), Some(2f))),
      (Seq(Some(-1f), Some(0f), Some(-0.0f), Some(2f)), Seq(Some(2f), Some(-3f), Some(1f), Some(0f))),
      (Seq(Some(1f)), Seq(Some(1f))))
    val df = (rand ++ edges).toDF("a", "b")
    val r = df.select(
      VectorFunctions.cosine($"a", $"b").as("n"),
      VectorFunctions.cosineDeclarative($"a", $"b").as("d"),
      VectorFunctions.signBucket($"a", 8).as("sn"),
      VectorFunctions.signBucketDeclarative($"a", 8).as("sd"),
      VectorFunctions.signBucket($"b", 3).as("sn3"),
      VectorFunctions.signBucketDeclarative($"b", 3).as("sd3")).collect()
    r.zipWithIndex.foreach { case (row, i) =>
      assert(row.isNullAt(0) == row.isNullAt(1), s"row $i cosine nullability")
      if (!row.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(row.getDouble(1)),
          s"row $i cosine bits: ${row.getDouble(0)} vs ${row.getDouble(1)}")
      assert(row.getLong(2) == row.getLong(3), s"row $i signBucket(8)")
      assert(row.getLong(4) == row.getLong(5), s"row $i signBucket(3)")
    }
    // null ARRAY → null through both forms
    val nr = Seq((null.asInstanceOf[Seq[Float]], Seq(1f, 2f))).toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b"),
        VectorFunctions.cosineDeclarative($"a", $"b"),
        VectorFunctions.signBucket($"a", 8),
        VectorFunctions.signBucketDeclarative($"a", 8)).collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1) && nr.isNullAt(2) && nr.isNullAt(3))
  }

  test("signBucket rejects bit widths outside 1..63 at construction") {
    for (bits <- Seq(0, 64))
      intercept[IllegalArgumentException](VectorFunctions.signBucket(lit(Array(1.0)), bits))
    // the edges of the valid range still match the declarative form
    val r = spark.range(1).select(
      VectorFunctions.signBucket(lit(Array(1.0, -1.0)), 1),
      VectorFunctions.signBucketDeclarative(lit(Array(1.0, -1.0)), 1),
      VectorFunctions.signBucket(lit(Array.fill(63)(1.0)), 63),
      VectorFunctions.signBucketDeclarative(lit(Array.fill(63)(1.0)), 63)).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == Long.MaxValue && r.getLong(2) == r.getLong(3))
  }
}
