package graft.operators

import graft.SparkSpec
import graft.checks._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.util.Random

/** The per-panel Scala kernels ≡ the DataFrame tails they replaced
  * (ReferenceTails): verdict and violation rows compared field by field —
  * doubles within 1e-9 (relative above 1), every string byte-equal — over
  * generated reduced frames with null scope / panel groups, zero-count
  * cells, single-group panels, minNum cuts, worst-category and top-digit
  * ties, Fisher with its chi-square fallback, pairwise with holmPooled and
  * category values whose Spark (UTF-8 byte) order differs from Java's
  * UTF-16 String order.
  */
class KernelEquivalenceSpec extends SparkSpec {

  private def close(a: Double, b: Double) =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  private def sameRows(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.schema.fieldNames.toSeq == ref.schema.fieldNames.toSeq, s"$what columns")
    def canon(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("\u0001"))
    val (g, r) = (canon(got), canon(ref))
    assert(g.size == r.size, s"$what: ${g.size} rows vs reference ${r.size}")
    g.zip(r).foreach { case (gr, rr) =>
      gr.zip(rr).zip(got.schema.fieldNames).foreach {
        case ((a: Double, b: Double), f) => assert(close(a, b), s"$what.$f: $a vs $b\n$gr\n$rr")
        case ((a, b), f) => assert(a == b, s"$what.$f: $a vs $b\n$gr\n$rr")
      }
    }
  }

  // U+FF21 sorts AFTER U+1F600 in UTF-8 bytes but BEFORE it as UTF-16
  private val values = Seq("a", "b", "é", "Ａ", "😀")
  private val groups = Seq("g1", "g2", "g3", "üg", "😀g")
  private val panels: Seq[java.lang.Integer] = Seq(202401, 202402, 202403, null)
  private val scopes = Seq("s1", "s2", null)

  private def catPre(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = for {
      s <- scopes; p <- panels
      // single-group panels, sparse panels (zero-count cells) and dense ones
      gs = rnd.nextInt(4) match {
        case 0 => groups.take(1)
        case _ => groups.filter(_ => rnd.nextDouble() < 0.7)
      }
      g <- gs; v <- values if rnd.nextDouble() < 0.75
    } yield Row(s, p, g, v, (if (rnd.nextDouble() < 0.1) 0L else rnd.nextInt(40).toLong))
    // a worst-category tie (both values deviate by exactly 0.5) and a
    // panel past the Fisher enumeration budget (n > 2000 → chisq_fallback)
    val fixed = Seq(
      Row("tie", 202401: Integer, "g1", "a", 2L), Row("tie", 202401: Integer, "g1", "b", 0L),
      Row("tie", 202401: Integer, "g2", "a", 0L), Row("tie", 202401: Integer, "g2", "b", 2L),
      Row("big", 202401: Integer, "g1", "a", 1500L), Row("big", 202401: Integer, "g1", "b", 700L),
      Row("big", 202401: Integer, "g2", "a", 800L), Row("big", 202401: Integer, "g2", "b", 1400L))
    spark.createDataFrame(java.util.Arrays.asList(rows ++ fixed: _*), StructType(Seq(
      StructField("s", StringType), StructField("panel", IntegerType),
      StructField("grp", StringType), StructField("value", StringType),
      StructField("cnt", LongType))))
  }

  test("categorical kernel ≡ reference tails: verdicts, violations and every surface") {
    val configs = Seq(
      CategoricalConsistencyCheck("c0", "value", "grp", dateCol = Some("d"), scope = Seq("s")),
      CategoricalConsistencyCheck("c1", "value", "grp", dateCol = Some("d"), scope = Seq("s"),
        minNum = 20, alphaBar = 0.5, test = "fisher"),
      CategoricalConsistencyCheck("c2", "value", "grp", dateCol = Some("d"), scope = Seq("s"),
        pairwise = true, alphaBar = 0.3),
      CategoricalConsistencyCheck("c3", "value", "grp", dateCol = Some("d"), scope = Seq("s"),
        pairwise = true, holmPooled = true, minNum = 10, alphaBar = 0.5, test = "fisher"))
    for (seed <- 1 to 2; c <- configs) graft.engine.CacheTracker.scope {
      val pre = Some(catPre(seed).cache())
      val at = s"seed $seed ${c.id}"
      sameRows(CategoricalConsistency.verdicts(null, c, pre),
        CategoricalConsistencyRef.verdicts(null, c, pre), s"$at verdicts")
      sameRows(CategoricalConsistency.violations(null, c, pre),
        CategoricalConsistencyRef.violations(null, c, pre), s"$at violations")
      if (seed == 1) {
        sameRows(CategoricalConsistency.cells(null, c, pre),
          CategoricalConsistencyRef.cells(null, c, pre), s"$at cells")
        sameRows(CategoricalConsistency.overallBar(null, c, pre),
          CategoricalConsistencyRef.overallBar(null, c, pre), s"$at overallBar")
        if (c.pairwise) {
          sameRows(CategoricalConsistency.pairwiseTests(null, c, pre),
            CategoricalConsistencyRef.pairwiseTests(null, c, pre), s"$at pairwise")
          val (s1, h1) = CategoricalConsistency.pooledTests(null, c, pre)
          val (s0, h0) = CategoricalConsistencyRef.pooledTests(null, c, pre)
          sameRows(s1, s0, s"$at pooled stacked")
          sameRows(h1, h0, s"$at pooled heat")
        }
      }
      pre.get.unpersist()
    }
    // the generator really produced the cases the kernels must agree on
    val c3 = configs(3)
    val pre = Some(catPre(1))
    val used = CategoricalConsistency.tests(null, c3, pre)
      .select("test_used").distinct().collect().map(_.getString(0)).toSet
    assert(Set("fisher", "chisq_fallback").subsetOf(used), used)
    assert(CategoricalConsistency.pairwiseTests(null, c3, pre)
      .filter("test_used = 'missing_pair'").count() > 0)
  }

  private def digitPre(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = for {
      s <- scopes; p <- panels; g <- 1 to 4
      d <- -1 to 9 if rnd.nextDouble() < 0.8
    } yield Row(s, p, g, d, (if (g == 4) 3L else rnd.nextInt(60).toLong))
    // group 4 ties every present digit at 3 → top digit = the lowest one
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("s", StringType), StructField("panel", IntegerType),
      StructField("grp", IntegerType), StructField("digit", IntegerType),
      StructField("cnt", LongType))))
  }

  test("digit-preference kernel ≡ reference tail: verdicts, violations, counts") {
    val configs = Seq(
      DigitPreferenceCheck("d0", "v", groupCol = "grp", dateCol = Some("d"), interval = "quarter",
        scope = Seq("s"), alpha = 0.5, noneThreshold = 8.0),
      DigitPreferenceCheck("d1", "v", groupCol = "grp", dateCol = Some("d"), interval = "quarter",
        scope = Seq("s"), alpha = 0.2, minNum = 250))
    for (seed <- 1 to 2; c <- configs) graft.engine.CacheTracker.scope {
      val pre = Some(digitPre(seed).cache())
      val at = s"seed $seed ${c.id}"
      val v = DigitPreference.violations(null, c, pre)
      sameRows(DigitPreference.verdicts(null, c, pre),
        DigitPreferenceRef.verdicts(null, c, pre), s"$at verdicts")
      sameRows(v, DigitPreferenceRef.violations(null, c, pre), s"$at violations")
      sameRows(DigitPreference.digitCounts(null, c, pre),
        DigitPreferenceRef.digitCounts(null, c, pre), s"$at digitCounts")
      if (seed == 1 && c.id == "d0")
        assert(v.filter("key = '4'").count() > 0, "the tied group must fail and be reported")
      pre.get.unpersist()
    }
  }

  private def driftPre(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = for {
      s <- scopes; p <- panels; b <- 0 until 8 if rnd.nextDouble() < 0.7
    } yield Row(s, p, b, rnd.nextInt(50).toLong + (if (p == null) 30 else 0))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("s", StringType), StructField("panel", IntegerType),
      StructField("bin", IntegerType), StructField("cnt", LongType))))
  }

  test("drift kernel ≡ reference tail: verdicts, violations, histogram") {
    val configs = Seq(
      DriftCheck("r0", "v", "d", bins = 8, scope = Seq("s"), alpha = 0.05, ksThreshold = 0.15),
      DriftCheck("r1", "v", "d", bins = 8, alpha = 0.2, ksThreshold = 0.3))
    for (seed <- 1 to 2; c <- configs) graft.engine.CacheTracker.scope {
      // the counts arrive at the check's own key grain, as CellScan emits them
      val keys = (c.scope :+ "panel" :+ "bin").map(org.apache.spark.sql.functions.col)
      val pre = Some(driftPre(seed).groupBy(keys: _*)
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt")).cache())
      val at = s"seed $seed ${c.id}"
      sameRows(Drift.verdicts(null, c, pre), DriftRef.verdicts(null, c, pre), s"$at verdicts")
      sameRows(Drift.violations(null, c, pre), DriftRef.violations(null, c, pre), s"$at violations")
      sameRows(Drift.histogram(null, c, pre), DriftRef.histogram(null, c, pre), s"$at histogram")
      pre.get.unpersist()
    }
  }

  test("drift kernel drops a single-window scope instead of dividing by its empty rest") {
    val pre = Some(spark.createDataFrame(java.util.Arrays.asList(
      Row("only", 202401: Integer, 0, 5L), Row("only", 202401: Integer, 1, 7L),
      Row("two", 202401: Integer, 0, 5L), Row("two", 202402: Integer, 1, 7L)),
      driftPre(1).schema))
    val t = Drift.tests(null, DriftCheck("r", "v", "d", bins = 2, scope = Seq("s")), pre)
    assert(t.select("s").collect().map(_.getString(0)).toSet == Set("two"))
  }

  test("group-variance kernels ≡ reference tails: verdicts and violations") {
    for (seed <- 1 to 2) graft.engine.CacheTracker.scope {
      val rnd = new Random(seed)
      val rows = for (i <- 0 until 1200) yield {
        val g = s"g${i % 5}"
        val sd = if (g == "g3") 4.0 else 1.0
        Row(Seq("k1", "k2", null)(i % 3), g, rnd.nextGaussian() * sd + (i % 5), (i % 7).toDouble)
      }
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("s", StringType), StructField("grp", StringType),
        StructField("y", DoubleType), StructField("x", DoubleType))))
      val c = GroupVarianceCheck("gv", "y", "grp", contCovariates = Seq("x"),
        scope = Seq("s"), alpha = 0.2)
      sameRows(GroupVariance.verdicts(df, c), GroupVarianceRef.verdicts(df, c), s"seed $seed verdicts")
      sameRows(GroupVariance.violations(df, c), GroupVarianceRef.violations(df, c),
        s"seed $seed violations")
    }
  }
}
