package graft.queries

import graft.checks._
import graft.engine.Runner
import graft.sources.Pages
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Flagship entry: the full validation suite over the synthetic
  * Common-Crawl-style pages table (the north-rule workload) — verdict rows
  * out. Small scale here (driver smoke only); Bench runs the same suite at
  * benchmark scale.
  */
object Flagship {

  /** Core validation checks — the round-1..3 suite composition, kept as a
    * named subset so throughput numbers stay comparable across rounds. */
  def coreChecks: Seq[Check] = Seq(
      ColumnStatsCheck("score_stats", "score",
        maxMissingFrac = Some(0.0), minAllowed = Some(0.0), maxAllowed = Some(100.0),
        quantileBounds = Seq((0.5, 20.0, 80.0))),
      UniquenessCheck("unique_url", Seq("url")),
      ReferentialCheck("host_registered", "host_id", "hosts", "host_id"),
      // pairwise=true + holmPooled=true adds the reference's heat-map pair
      // grid (q54/q55 exercise it); it rides the same fused cell scan and
      // per-panel kernel plus one global group-domain aggregate. The
      // flagship keeps the one-vs-rest default, so suite throughput stays
      // comparable across rounds, and the grid stays opt-in
      CategoricalConsistencyCheck("lang_consistency", "lang", "host_bucket",
        dateCol = Some("warc_ts"), interval = "quarter", alphaBar = 0.05),
      DigitPreferenceCheck("score_digits", "score", place = 0.1,
        groupCol = "host_id", alpha = 1e-4, minNum = 50),
      DriftCheck("score_drift", "score", "warc_ts", interval = "quarter", alpha = 0.001),
      ByteIdentityCheck("text_bytes", "url", "text"))

  /** Model families (the reference's statistical heart) INSIDE the benched
    * suite so the Gram/whitening path is part of the throughput and
    * scaling evidence: OLS outliers on the planted 10×-long texts,
    * Brown–Forsythe variance homogeneity across host buckets (buckets
    * carrying the digit-snapped hosts differ), random-intercept
    * longitudinal residuals per host. */
  def modelChecks: Seq[Check] = Seq(
      RegressionOutlierCheck("chars_regression", "n_chars", "url",
        contCovariates = Seq("score"), scope = Seq("host_bucket"),
        cutoffPct = 99.9, cookCutoff = Some(7.0)),
      GroupVarianceCheck("score_variance", "score", "host_bucket"),
      LongitudinalOutlierCheck("score_longitudinal", "score", "host_id",
        cutoffPct = 99.9),
      // type=UN panel covariance per host over quarterly score means —
      // the round-5 promotion of the q64 operator into the Check ADT
      UnPanelCheck("score_un_panel", "score", idCol = "host_id",
        dateCol = Some("warc_ts"), interval = "quarter", cutoffPct = 99.9))

  /** LLM-pipeline dedup as a first-class check: planted exact clones
    * (~0.1%) and near-clones (~0.05%, one extra token). Its combo-key
    * pair-generation shuffle is the one deliberately NON-scan-dominated
    * leg, so the 100M scan-scaling proxy uses `scalingSuite` (without it)
    * while the driver bench runs the full composition. */
  def dedupChecks: Seq[Check] = Seq(
      NearDupCheck("near_dup_text", idCol = "url", textCol = "text",
        maxHamming = 3, maxDupFrac = 0.0))

  /** Suite over an arbitrary check subset (the bench times family groups
    * separately through this so regressions localize). */
  def suiteOf(spark: SparkSession, checks: Seq[Check]): Runner.Suite =
    mkSuite(spark, checks)

  private def mkSuite(spark: SparkSession, checks: Seq[Check]): Runner.Suite =
    Runner.Suite(checks,
      refTables = Map("hosts" -> Pages.hosts(spark)), keyCol = "url")

  /** The full flagship suite: core + model families + dedup. */
  def suite(spark: SparkSession): Runner.Suite =
    mkSuite(spark, coreChecks ++ modelChecks ++ dedupChecks)

  /** Round-3-comparable composition (throughput continuity across rounds). */
  def coreSuite(spark: SparkSession): Runner.Suite = mkSuite(spark, coreChecks)

  /** Scan-scaling proxy composition: everything scan-dominated, including
    * the model families (per the round-3 verdict), excluding only the
    * near-dup pair-generation shuffle whose row-level compute is covered
    * by the compute-mode scaling evidence. */
  def scalingSuite(spark: SparkSession): Runner.Suite =
    mkSuite(spark, coreChecks ++ modelChecks)

  def verdicts(spark: SparkSession): DataFrame =
    Runner.run(Pages.generate(spark, 20000), suite(spark)).verdicts
}
