package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{RegressionOutlierCheck, Results}
import graft.stats.Distributions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GLM outlier check — %univariatePlot / %bivariatePlot re-expressed.
  *
  * Reference flow (univariatePlot.sas:309-376, BivariatePlot.sas:426-508):
  * fit GLM per by-group, flag rows with .z < tinv(cutoff/100, dfe−1) <=
  * |rStudent| (inclusive boundary, univariatePlot.sas:367) and, for the
  * bivariate flavor, Cook's D > cookCutoff/n (BivariatePlot.sas:481-484).
  *
  * Spark shape: OlsPass two-pass (one shuffle for the Gram agg, none for
  * the flagging pass). The reference's per-by-value driver loop
  * (univariatePlot.sas:805-848) collapses into the scope grouping.
  */
object RegressionOutlier {

  /** Per-row flagged frame: input columns + resid/rstudent/cookd/cutoffs + flags. */
  def flagged(df: DataFrame, check: RegressionOutlierCheck): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = OlsPass.design(df, check.contCovariates, check.discCovariates)
    val fits = OlsPass.fitPerGroup(df, check.outcome, d, check.scope)
    // tinv cutoff + n per group: a tiny driver-built frame broadcast-joined
    // onto the row pass (like the reference's per-group tinv merge,
    // univariatePlot.sas:365) — a per-row Scala UDF map lookup here would
    // break whole-stage codegen on the widest row-level pass
    val cutoffs = fits.toSeq.map { case (k, f) =>
      (k,
        if (f.dfe > 1) Distributions.tInv(check.cutoffPct / 100.0, f.dfe - 1) else Double.NaN,
        f.n)
    }.toDF("__key", "rstudent_cutoff", "__fit_n")
    val withStats = OlsPass.rowStats(df, check.outcome, d, check.scope, fits)
      .join(broadcast(cutoffs), Seq("__key"), "left")
      .withColumn("rstudent_cutoff", coalesce(col("rstudent_cutoff"), lit(Double.NaN)))
    val rsFlag = col("rstudent_cutoff").isNotNull && !col("rstudent_cutoff").isNaN &&
      abs(col("rstudent")) >= col("rstudent_cutoff") // inclusive, :367
    val base = withStats.withColumn("flag_rstudent", coalesce(rsFlag, lit(false)))
    val out = check.cookCutoff match {
      case Some(cc) =>
        base.withColumn("cookd_cutoff", lit(cc) / coalesce(col("__fit_n"), lit(0L)))
          .withColumn("flag_cookd", coalesce(col("cookd") > col("cookd_cutoff"), lit(false)))
          .withColumn("flag_outlier", col("flag_rstudent") || col("flag_cookd"))
      case None =>
        base.withColumn("cookd_cutoff", lit(null).cast("double"))
          .withColumn("flag_cookd", lit(false))
          .withColumn("flag_outlier", col("flag_rstudent"))
    }
    out.drop("__fit_n")
  }

  /** (verdicts, violations) — the Runner's entry. The flagged frame is
    * built ONCE (its Gram collect is eager) and cached PRUNED to the
    * columns both outputs read: uncached, each output's branch of the
    * unified action re-ran the full row pass. Row-proportional but narrow;
    * MEMORY_AND_DISK spills at scale (the reference materializes its
    * residual datasets the same way). */
  def outputs(df: DataFrame, check: RegressionOutlierCheck): (DataFrame, DataFrame) = {
    val cols = Seq("__key", check.idCol, check.outcome, "rstudent", "cookd",
      "rstudent_cutoff", "flag_rstudent", "flag_cookd", "flag_outlier").distinct
    val f = flagged(df, check).select(cols.map(col): _*).trackedCache()
    (verdictsFrom(f, check), violationsFrom(f, check))
  }

  def verdicts(df: DataFrame, check: RegressionOutlierCheck): DataFrame =
    verdictsFrom(flagged(df, check), check)

  /** Verdicts from a prebuilt `flagged` frame. */
  def verdictsFrom(f: DataFrame, check: RegressionOutlierCheck): DataFrame = {
    val framed = f.groupBy(col("__key")).agg(
      sum(when(col("flag_outlier"), 1L).otherwise(0L)).as("n_outliers"),
      count(lit(1)).as("n"),
      first("rstudent_cutoff").as("cut"))
      .select(
        col("__key").as("partition"),
        lit("rstudent_outliers").as("metric"),
        col("n_outliers").cast("double").as("stat"),
        col("cut").as("threshold"),
        col("n").as("n_obs"),
        (col("n_outliers") === 0).as("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  def violations(df: DataFrame, check: RegressionOutlierCheck): DataFrame =
    violationsFrom(flagged(df, check), check)

  def violationsFrom(flaggedFrame: DataFrame, check: RegressionOutlierCheck): DataFrame = {
    val f = flaggedFrame.filter(col("flag_outlier"))
    val v = f.select(
      col(check.idCol).cast("string").as("key"),
      col("__key").as("partition"),
      concat(lit(s"${check.outcome}="), round(col(check.outcome).cast("double"), 6).cast("string"),
        lit(", rstudent="), round(col("rstudent"), 4).cast("string"),
        lit(", cookd="), round(col("cookd"), 6).cast("string")).as("observed"),
      concat(lit("|rstudent| < "), round(col("rstudent_cutoff"), 4).cast("string")).as("expected"),
      when(col("flag_rstudent") && col("flag_cookd"), "rstudent+cookd outlier")
        .when(col("flag_cookd"), "cookd outlier")
        .otherwise("rstudent outlier").as("label"))
    Results.toViolations(v, check.id)
  }
}
