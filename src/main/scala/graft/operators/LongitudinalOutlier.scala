package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{LongitudinalOutlierCheck, Results}
import graft.stats.{Distributions, VarComp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-entity time-series outlier check — %longitudinalPlot default
  * config re-expressed (longitudinalPlot.sas:423-493).
  *
  * Spark shape (SURVEY.md §3.3): fixed-effect OLS residuals (OlsPass, one
  * shuffle) → per-subject sufficient stats (cached, reused) → driver MoM
  * variance components (VarComp) → whitened marginal residuals per row
  * (subject stats equi-joined back — hash shuffle, no sort) → flag
  * |r*| >= tinv(cutoff/100, dfe−1) with the df<1.12 workaround
  * (longitudinalPlot.sas:453-456) → violations = flagged rows; subjects
  * with any flag selected via semi-join (print=OUTLIERS, :486-493).
  */
object LongitudinalOutlier {

  def flagged(df: DataFrame, check: LongitudinalOutlierCheck): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = OlsPass.design(df, check.contCovariates, check.discCovariates)
    val rawFits = OlsPass.fitPerGroupRaw(df, check.outcome, d, check.scope)
    // per-(scope, subject) sufficient stats → variance components per scope,
    // all distributed: the second aggregation collapses 10^8+ subjects into
    // one row per scope BEFORE anything leaves the executors (round-1 fix:
    // no subject-proportional collect).
    // '∅' stands in for a null subject id (the OlsPass.withKey convention)
    // so the stats frame can be equi-JOINED back to rows — a null group key
    // would silently drop its rows from the join (round-3 ADVICE class).
    def subjStatsOf(fr: DataFrame) =
      fr.groupBy(col("__key"),
          coalesce(col(check.idCol).cast("string"), lit("∅")).as("__subj"))
        .agg(count(lit(1)).as("n"), sum("resid").as("s"), sum(col("resid") * col("resid")).as("ss"))
    // method=reml is the PROC MIXED default-parity path (exact profile
    // REML, guarded per-size-class collect); mom is the fully distributed
    // scale default — both emit the same (σ²_b, σ²_e)-per-scope schema.
    def estOf(ss: DataFrame) =
      if (check.method.equalsIgnoreCase("reml")) VarComp.remlEstimates(ss)
      else VarComp.estimates(ss)
    val olsFits = rawFits.map { case (k, (_, f)) => k -> f }
    val withResid0 = OlsPass.rowStats(df, check.outcome, d, check.scope, olsFits)
    import graft.engine.CacheTracker.TrackedCacheOps
    // per-scope t cutoff with the SAS low-df workaround mirrored exactly
    // (longitudinalPlot.sas:453-456); fits is already driver-side and
    // MaxGroups-guarded, so this frame is one tiny row per scope.
    // estNK is by-name: the residual branch never touches it.
    def cutoffsFor(estNK: => DataFrame, fits: Map[String, graft.stats.Ols.Fit]): DataFrame =
      if (check.ddfm.equalsIgnoreCase("betwithin")) {
        // ddfm=bw (longitudinalPlot.sas:433): partition the residual df
        // and flag against the WITHIN-subject portion (N − k) − p_w.
        // p_w = design columns varying within ≥1 subject, found by one
        // narrow two-stage agg (per-subject feature ranges → per-scope
        // any-nonzero count) — nothing subject-proportional leaves the
        // executors, and tinv runs on the one-row-per-scope reduced frame.
        val feats = OlsPass.featureCols(d).drop(1) // non-intercept columns
        val baseDf =
          if (feats.isEmpty)
            estNK.select(col("__key"),
              (col("n_rows") - col("k_subjects")).cast("double").as("__df"))
          else {
            val keyed = OlsPass.withKey(df, check.outcome, d, check.scope)
            val subjCol = coalesce(col(check.idCol).cast("string"), lit("∅"))
            val rangeExprs = feats.zipWithIndex.map {
              case (f, i) => (max(f) - min(f)).as(s"__r_$i") }
            val ranges = keyed.groupBy(col("__key"), subjCol.as("__subj"))
              .agg(rangeExprs.head, rangeExprs.tail: _*)
            val pw = ranges.groupBy(col("__key")).agg(
              feats.indices.map(i =>
                when(max(col(s"__r_$i")) > lit(0.0), 1).otherwise(0))
                .reduce(_ + _).as("__pw"))
            estNK.join(pw, Seq("__key"), "left").select(col("__key"),
              (col("n_rows") - col("k_subjects") - coalesce(col("__pw"), lit(0)))
                .cast("double").as("__df"))
          }
        val tinvUdf = udf((dfv: Double) =>
          Distributions.tInv(check.cutoffPct / 100.0, dfv - 1, sasLowDfWorkaround = true))
        baseDf.select(col("__key"), tinvUdf(col("__df")).as("cutoff"))
      } else fits.toSeq.map { case (k, f) =>
        k -> Distributions.tInv(check.cutoffPct / 100.0, f.dfe - 1, sasLowDfWorkaround = true)
      }.toDF("__key", "cutoff")

    if (check.randomTerms.nonEmpty) {
      // random = INTERCEPT x1 x2 … / type=UN — the general term-list
      // surface (longitudinalPlot.sas:436-440). Same shape as the slopeVar
      // branch with the 2×2 closed forms swapped for stats.RandomEffects'
      // packed q×q two-stage MoM; flags from the marginal studentized
      // residual against the broadcast per-scope (σ²ₑ, Ĝ). method="reml"
      // swaps in the exact q×q REML (guarded design-class collect,
      // driver simplex — RandomEffects.remlEstimates; CheckCompiler caps
      // it at RemlMaxTerms and normalizes to mom past that).
      val reStats = graft.stats.RandomEffects.subjStats(
        withResid0.withColumn("__subj",
          coalesce(col(check.idCol).cast("string"), lit("∅"))),
        "__key", "__subj", check.randomTerms, "resid")
      val reEst =
        if (check.method.equalsIgnoreCase("reml"))
          graft.stats.RandomEffects.remlEstimates(reStats, check.randomTerms.size)
        else graft.stats.RandomEffects.estimates(reStats, check.randomTerms.size)
      val cutoffs = cutoffsFor(reEst, olsFits)
      return withResid0
        .join(broadcast(reEst), Seq("__key"), "left")
        .join(broadcast(cutoffs), Seq("__key"), "left")
        .withColumn("rscaled",
          graft.stats.RandomEffects.scaledResidual(col("resid"), check.randomTerms))
        .withColumn("cutoff", coalesce(col("cutoff"), lit(Double.NaN)))
        // NaN guard as in both sibling branches: scaledResidual yields NULL
        // (never NaN) on degenerate scopes, so the comparison nulls out and
        // coalesce lands false instead of flag-storming.
        .withColumn("flag_outlier",
          coalesce(!col("cutoff").isNaN && !isnan(col("rscaled")) &&
            abs(col("rscaled")) >= col("cutoff"), lit(false)))
        .drop("sigma_e2", "g", "k3", "k_subjects", "n_rows")
    }

    check.slopeVar match {
      case Some(tv) =>
        // random = INTERCEPT <var> (the reference's `random=`/`type=UN`
        // surface, longitudinalPlot.sas:49-51,128-129): Swamy-type
        // intercept+slope components (stats.RandomSlope), flags from the
        // marginal studentized residual r/√V_jj — pure row arithmetic
        // against the broadcast per-scope estimate, no per-subject join.
        // The fgls alternation is a random-intercept device; slope mode
        // always reads the plain OLS residuals. method="reml" swaps the
        // Swamy two-stage MoM for exact REML over guarded design classes
        // (RandomSlope.remlEstimates) — same output schema.
        val slopeStats = graft.stats.RandomSlope.subjStats(
          withResid0.withColumn("__subj",
            coalesce(col(check.idCol).cast("string"), lit("∅"))),
          "__key", "__subj", tv, "resid")
        val slopeEst =
          if (check.method.equalsIgnoreCase("reml"))
            graft.stats.RandomSlope.remlEstimates(slopeStats)
          else graft.stats.RandomSlope.estimates(slopeStats)
        val cutoffs = cutoffsFor(slopeEst, olsFits)
        withResid0
          .join(broadcast(slopeEst), Seq("__key"), "left")
          .join(broadcast(cutoffs), Seq("__key"), "left")
          .withColumn("rscaled",
            graft.stats.RandomSlope.scaledResidual(col("resid"), col(tv).cast("double")))
          .withColumn("cutoff", coalesce(col("cutoff"), lit(Double.NaN)))
          // !isnan(rscaled): NaN sorts above every double in Spark, so an
          // unguarded abs(NaN) >= cutoff is TRUE and a degenerate scope
          // (missed broadcast join, <2 informative subjects) would flag
          // every row; with the guard (and scaledResidual's NULL-on-
          // degenerate) the comparison nulls out and coalesce lands false.
          .withColumn("flag_outlier",
            coalesce(!col("cutoff").isNaN && !isnan(col("rscaled")) &&
              abs(col("rscaled")) >= col("cutoff"), lit(false)))
          .drop("sigma_e2", "g00", "g01", "g11", "k_subjects", "k3", "n_rows")

      case None =>
        // the per-subject stats frame is REUSED: variance components read
        // it here, and the whitening join below reads (n, s) per subject —
        // cached so the OLS residual pass runs once, not once per
        // consumer. Narrow (5 columns, one row per subject).
        val subjStats0 = subjStatsOf(withResid0).trackedCache()
        val est0 = estOf(subjStats0)
        // fgls: one more alternation — β re-estimated by GLS under est0,
        // then residuals and variance components recomputed under β_gls
        // (the PROC MIXED joint-estimation step, longitudinalPlot.sas:423-442)
        val (fits, withResid, subjStats, est) =
          if (!check.fgls) (olsFits, withResid0, subjStats0, est0)
          else {
            val keyed = OlsPass.withKey(df, check.outcome, d, check.scope)
            val glsFits = graft.stats.Fgls.refit(keyed, check.outcome, d,
              check.idCol, rawFits.map { case (k, (r, _)) => k -> r }, est0)
            val wr = OlsPass.rowStats(df, check.outcome, d, check.scope, glsFits)
            val ss = subjStatsOf(wr).trackedCache()
            (glsFits, wr, ss, estOf(ss))
          }
        val cutoffs = cutoffsFor(est, fits)
        // per-subject count/sum join back the cached stats frame instead
        // of a Window.partitionBy: the window plans a full shuffle-SORT of
        // the row-proportional frame; the join shuffles hash-only, and
        // with AQE on the (one row per subject) stats side broadcasts
        // whenever it is small enough — subject cardinality is unbounded
        // in general, so no static broadcast hint here.
        withResid
          .withColumn("__subj", coalesce(col(check.idCol).cast("string"), lit("∅")))
          .join(subjStats.select(col("__key"), col("__subj"),
            col("n").as("__n_subj"), col("s").as("__rsum")), Seq("__key", "__subj"))
          .drop("__subj")
          .join(broadcast(est), Seq("__key"), "left")
          .join(broadcast(cutoffs), Seq("__key"), "left")
          .withColumn("rscaled", VarComp.whitenExpr(col("__n_subj"), col("resid"), col("__rsum")))
          .withColumn("cutoff", coalesce(col("cutoff"), lit(Double.NaN)))
          // same NaN guard as the slopeVar branch: whitenExpr yields NaN on
          // degenerate components, and NaN compares above every cutoff.
          .withColumn("flag_outlier",
            coalesce(!col("cutoff").isNaN && !isnan(col("rscaled")) &&
              abs(col("rscaled")) >= col("cutoff"), lit(false)))
          .drop("sigma_b2", "sigma_e2", "k_subjects", "n_rows")
    }
  }

  /** Per-scope model summary: OLS and feasible-GLS fixed effects plus the
    * variance components the GLS step used — the inspectable face of the
    * fgls path (one tiny row per scope; the β_gls here is exactly what
    * `flagged(fgls = true)` recomputes residuals with). */
  def modelSummary(df: DataFrame, check: LongitudinalOutlierCheck): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = OlsPass.design(df, check.contCovariates, check.discCovariates)
    val rawFits = OlsPass.fitPerGroupRaw(df, check.outcome, d, check.scope)
    val olsFits = rawFits.map { case (k, (_, f)) => k -> f }
    val withResid = OlsPass.rowStats(df, check.outcome, d, check.scope, olsFits)
    val subjStats = withResid
      .groupBy(col("__key"), col(check.idCol).cast("string").as("__subj"))
      .agg(count(lit(1)).as("n"), sum("resid").as("s"), sum(col("resid") * col("resid")).as("ss"))
    val est =
      if (check.method.equalsIgnoreCase("reml")) VarComp.remlEstimates(subjStats)
      else VarComp.estimates(subjStats)
    val keyed = OlsPass.withKey(df, check.outcome, d, check.scope)
    val gls = graft.stats.Fgls.refit(keyed, check.outcome, d, check.idCol,
      rawFits.map { case (k, (r, _)) => k -> r }, est)
    val comps = est.select(col("__key"), col("sigma_b2"), col("sigma_e2"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    olsFits.toSeq.sortBy(_._1).map { case (k, ols) =>
      val g = gls.getOrElse(k, ols)
      val (sb2, se2) = comps.getOrElse(k, (Double.NaN, Double.NaN))
      (k, ols.beta.toSeq, g.beta.toSeq, sb2, se2, ols.n)
    }.toDF("partition", "beta_ols", "beta_gls", "sigma_b2", "sigma_e2", "n_rows")
  }

  /** (verdicts, violations) — the Runner's entry; the flagged frame is
    * built and cached as in RegressionOutlier.outputs. */
  def outputs(df: DataFrame, check: LongitudinalOutlierCheck): (DataFrame, DataFrame) = {
    val cols = Seq("__key", check.idCol, check.outcome, "rscaled", "cutoff",
      "flag_outlier").distinct
    val f = flagged(df, check).select(cols.map(col): _*).trackedCache()
    (verdictsFrom(f, check), violationsFrom(f, check))
  }

  def verdicts(df: DataFrame, check: LongitudinalOutlierCheck): DataFrame =
    verdictsFrom(flagged(df, check), check)

  /** Verdicts from a prebuilt `flagged` frame. */
  def verdictsFrom(f: DataFrame, check: LongitudinalOutlierCheck): DataFrame = {
    val framed = f.groupBy(col("__key")).agg(
      sum(when(col("flag_outlier"), 1L).otherwise(0L)).as("n_outliers"),
      countDistinct(when(col("flag_outlier"), col(check.idCol))).as("n_subjects_flagged"),
      count(lit(1)).as("n"),
      first("cutoff").as("cut"))
      .select(
        col("__key").as("partition"),
        lit("longitudinal_outliers").as("metric"),
        col("n_outliers").cast("double").as("stat"),
        col("cut").as("threshold"),
        col("n").as("n_obs"),
        (col("n_outliers") === 0).as("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  /** Violation rows: every row of every subject that has >= 1 flagged row
    * (the reference's print=OUTLIERS semi-join, longitudinalPlot.sas:486-493),
    * flagged rows labeled as such. */
  def violations(df: DataFrame, check: LongitudinalOutlierCheck,
      wholeSubject: Boolean = false): DataFrame =
    violationsFrom(flagged(df, check), check, wholeSubject)

  def violationsFrom(f: DataFrame, check: LongitudinalOutlierCheck,
      wholeSubject: Boolean = false): DataFrame = {
    val rows =
      if (!wholeSubject) f.filter(col("flag_outlier"))
      else {
        val flaggedIds = f.filter(col("flag_outlier"))
          .select(col("__key"), col(check.idCol)).distinct()
        f.join(flaggedIds, Seq("__key", check.idCol), "left_semi")
      }
    val v = rows.select(
      col(check.idCol).cast("string").as("key"),
      col("__key").as("partition"),
      concat(lit(s"${check.outcome}="), round(col(check.outcome).cast("double"), 6).cast("string"),
        lit(", rscaled="), round(col("rscaled"), 4).cast("string")).as("observed"),
      concat(lit("|rscaled| < "), round(col("cutoff"), 4).cast("string")).as("expected"),
      when(col("flag_outlier"), "within-subject outlier").otherwise("context row").as("label"))
    Results.toViolations(v, check.id)
  }
}
