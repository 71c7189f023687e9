package graft.operators

import graft.SparkSpec
import graft.checks._
import graft.queries.Flagship
import graft.sources.Pages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fused multi-family cell scan ≡ each family's standalone pass: the
  * CellScan fusion changes cost (one input scan instead of three), never
  * results. Exercised over the synthetic pages table with every planted
  * anomaly active, comparing whole test frames row-set-exactly.
  */
class CellScanSpec extends SparkSpec {

  private val cat = CategoricalConsistencyCheck("lang_consistency", "lang", "host_bucket",
    dateCol = Some("warc_ts"), interval = "quarter", alphaBar = 0.05)
  private val dig = DigitPreferenceCheck("score_digits", "score", place = 0.1,
    groupCol = "host_id", alpha = 1e-4, minNum = 50)
  private val dr = DriftCheck("score_drift", "score", "warc_ts", interval = "quarter", alpha = 0.001)

  /** The Runner's fused slices, from its own shared scans. */
  private def fusedSlices(df: DataFrame): Map[String, DataFrame] = {
    val shared = new graft.engine.SharedScans(df, Seq(cat, dig, dr), Map.empty, "url")
    Map("cat" -> cat.id, "dig" -> dig.id, "dr" -> dr.id).map { case (k, id) =>
      k -> shared.cells(id).get
    }
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq, s"$what columns")
    val onlyA = a.exceptAll(b).count()
    val onlyB = b.exceptAll(a).count()
    assert(onlyA == 0 && onlyB == 0, s"$what differs: $onlyA rows only-fused, $onlyB only-standalone")
    assert(a.count() > 0, s"$what empty — vacuous comparison")
  }

  test("fused CellScan ≡ standalone categorical/digit/drift test frames") {
    val df = Pages.generate(spark, 20000, numPartitions = 8).cache()
    val pre = fusedSlices(df)
    assertSameRows(
      CategoricalConsistency.tests(df, cat, pre.get("cat")).drop("p_holm"),
      CategoricalConsistency.tests(df, cat).drop("p_holm"), "categorical tests")
    assertSameRows(
      DigitPreference.tests(df, dig, pre.get("dig")),
      DigitPreference.tests(df, dig), "digit tests")
    assertSameRows(
      Drift.tests(df, dr, pre.get("dr")),
      Drift.tests(df, dr), "drift tests")
    df.unpersist()
  }

  test("drift bin edges: the fused edge aggregate ≡ a filter-first pass on null and NaN inputs") {
    import spark.implicits._
    // filter-first form: drop null and NaN rows, then min/max
    def filterFirst(df: DataFrame, c: DriftCheck): (Any, Any) = {
      val v = col(c.column).cast("double")
      val r = df.filter(v.isNotNull && !isnan(v)).agg(min(v).as("mn"), max(v).as("mx"))
        .select(col("mn"), when(col("mx") > col("mn"), (col("mx") - col("mn")) / c.bins)
          .otherwise(1.0)).collect()(0)
      (r.get(0), r.get(1))
    }
    val nan = Double.NaN
    val df = Seq[(Option[Double], Option[Double], Option[Double], Option[Double])](
      (Some(3.0), Some(nan), None, Some(2.0)),
      (None, Some(nan), None, Some(2.0)),
      (Some(nan), None, None, Some(nan)),
      (Some(-1.5), Some(nan), None, None),
      (Some(7.25), None, None, Some(2.0))).toDF("mixed", "nan_only", "null_only", "constant")
    val checks = df.columns.toSeq.map(c => DriftCheck(s"dr_$c", c, "ts", bins = 4))
    checks.foreach { c =>
      val r = Drift.edgesMulti(df, Seq((c, "__mn", "__w"))).collect()(0)
      assert((r.get(0), r.get(1)) == filterFirst(df, c), c.column)
    }
  }

  test("Runner cache pruning: every check family runs on an input with an unread payload column") {
    import spark.implicits._
    // the Runner caches only referencedColumns — a family reading a column
    // it does not declare would fail here; payload must never be needed
    val df = (1 to 400).map { i =>
      (s"id${i % 50}", s"g${i % 4}", i.toDouble % 13 + (i % 3) * 0.21,
        i.toDouble % 7, s"payload$i")
    }.toDF("id", "grp", "v", "x", "payload")
    val suite = graft.engine.Runner.Suite(Seq(
      ColumnStatsCheck("cs", "v", maxMissingFrac = Some(0.5)),
      UniquenessCheck("u", Seq("id", "x")),
      GroupVarianceCheck("gv", "v", "grp"),
      RegressionOutlierCheck("ro", "v", "id", contCovariates = Seq("x")),
      LongitudinalOutlierCheck("lo", "v", "id")), keyCol = "id")
    val res = graft.engine.Runner.run(df, suite)
    val byCheck = res.verdicts.groupBy("check_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("cs", "u", "gv", "ro", "lo").subsetOf(byCheck.keySet), s"got $byCheck")
  }

  test("with fused cells (pre) NO categorical surface re-scans the raw input") {
    import spark.implicits._
    // pre-aggregated counts describing data DIFFERENT from the raw frame:
    // any surface that secretly aggregates the raw input instead of `pre`
    // betrays itself through the numbers (this caught the `_All_` overall
    // bar once — it ignored `pre` and cost one full scan per check)
    val check = CategoricalConsistencyCheck("cc", "lang", "src")
    val raw = Seq(("en", "a"), ("en", "a"), ("de", "b")).toDF("lang", "src")
    val pre = Seq(
      ("_ALL_", "a", "en", 700L), ("_ALL_", "a", "de", 300L),
      ("_ALL_", "b", "en", 400L), ("_ALL_", "b", "de", 600L))
      .toDF("panel", "grp", "value", "cnt")
    val v = CategoricalConsistency.outputs(raw, check, Some(pre))._1
      .collect()
    // overall bar must carry pre's panel total (2000), not raw's (3)
    val overall = v.filter(_.getAs[String]("metric") == "overall_bar")
    assert(overall.nonEmpty)
    assert(overall.forall(_.getAs[Long]("n_obs") == 2000L),
      s"overall bar ignored pre: ${overall.map(_.getAs[Long]("n_obs")).toSeq}")
    // one-vs-rest rows likewise reflect pre's group sizes (1000 each)
    val ovr = v.filter(_.getAs[String]("metric").endsWith("_one_vs_rest"))
    assert(ovr.nonEmpty && ovr.forall(_.getAs[Long]("n_obs") == 1000L))
    // violations path too
    val viol = CategoricalConsistency.outputs(raw, check, Some(pre))._2
    viol.collect() // must not fail; counts derived from pre via the cells cache
  }

  test("Runner suite (fusion active) still flags every planted anomaly") {
    val res = graft.engine.Runner.run(Pages.generate(spark, 20000, numPartitions = 8),
      Flagship.suite(spark))
    val failing = res.verdicts.filter(!col("pass"))
      .select("check_id").distinct().collect().map(_.getString(0)).toSet
    // planted: duplicates, orphan hosts, shifted lang panel, digit cluster
    assert(Set("unique_url", "host_registered", "lang_consistency", "score_digits")
      .subsetOf(failing), s"missing flags: got $failing")
  }
}
