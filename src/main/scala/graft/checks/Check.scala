package graft.checks

import graft.engine.SharedScans
import graft.operators._
import org.apache.spark.sql.DataFrame

/** The constraint DSL — every reference macro becomes a declarative Check
  * compiled to DataFrame transformations (SURVEY.md §7.1).
  *
  * Common fields:
  *  - id: stable check identifier, carried into verdict/violation rows
  *    (the reference's report titles / dataset suffixes play this role);
  *  - scope: partition columns — one verdict per distinct scope tuple
  *    (maps the reference's byVar/panelVar, e.g. univariatePlot.sas:805-848);
  *  - severity: informational tag propagated to results.
  */
sealed trait Check {
  def id: String
  def scope: Seq[String]
  def severity: String

  /** Every input column the check reads: CheckCompiler validates them
    * (variableExist.sas:24), and the Runner caches the input pruned to
    * them — a column read but not declared here fails at run time. */
  def referencedColumns: Seq[String]

  /** The referenced columns that must be numeric. */
  def numericColumns: Seq[String] = Nil

  /** The referenced columns that must be a timestamp or a date. */
  def temporalColumns: Seq[String] = Nil

  /** (verdicts, violations) over the run's input, reading this check's
    * slice of the run's shared scans; None when the shared scans emit the
    * check's verdicts themselves (a ColumnStats scope group). */
  private[graft] def outputs(input: DataFrame, shared: SharedScans): Option[(DataFrame, DataFrame)]
}

/** Column profile thresholds over one pass of sketch aggregation
  * (north-rule column stats; missingness ≈ the reference's universal
  * non-missing filters, SURVEY.md P2). All bounds optional; only supplied
  * ones are asserted. Quantile bounds use a mergeable KLL sketch.
  */
final case class ColumnStatsCheck(
    id: String,
    column: String,
    scope: Seq[String] = Nil,
    maxMissingFrac: Option[Double] = None,
    minAllowed: Option[Double] = None,
    maxAllowed: Option[Double] = None,
    quantileBounds: Seq[(Double, Double, Double)] = Nil, // (q, lo, hi)
    minDistinct: Option[Long] = None,
    maxDistinct: Option[Long] = None,
    severity: String = "error") extends Check {
  def referencedColumns: Seq[String] = column +: scope
  private[graft] def outputs(input: DataFrame, shared: SharedScans) = None
}

/** Key-uniqueness: no two rows share `keys` (within scope).
  * Reference analogue: nodupkey hygiene (SURVEY O3); scaled per north rule
  * with AQE skew splitting + partial aggregation.
  */
final case class UniquenessCheck(
    id: String,
    keys: Seq[String],
    scope: Seq[String] = Nil,
    maxDuplicates: Long = 0,
    severity: String = "error") extends Check {
  def referencedColumns: Seq[String] = keys ++ scope
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(Uniqueness.outputs(input, this, shared.keyScan(id)))
}

/** Referential consistency: every non-null `column` value appears in
  * `refTable.refColumn` (anti-join, broadcast when dim is small). North-rule
  * check; reference analogue is schema-level only (variableExist.sas:17-35).
  */
final case class ReferentialCheck(
    id: String,
    column: String,
    refTable: String,
    refColumn: String,
    scope: Seq[String] = Nil,
    maxOrphans: Long = 0,
    severity: String = "error") extends Check {
  def referencedColumns: Seq[String] = column +: scope
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(Referential.outputs(input, shared.refTables(refTable), this, shared.keyCol))
}

/** Categorical-consistency check — re-expression of %catchk
  * (Categorical_Check.sas): per panel (calendar bin × scope), test each
  * group's distribution of `valueCol` against the rest (chi-square or
  * Fisher), Holm-adjust within panel, flag when p < alphaBar.
  */
final case class CategoricalConsistencyCheck(
    id: String,
    valueCol: String,
    groupCol: String,
    dateCol: Option[String] = None,
    interval: String = "quarter", // year|half|quarter|month|overall
    scope: Seq[String] = Nil,
    test: String = "chisq",       // chisq|fisher (Freeman–Halton exact on the
                                  // full 2×C table; chisq fallback past the
                                  // enumeration budget, flagged)
    alphaBar: Double = 0.1,
    minNum: Long = 0,
    pairwise: Boolean = false,    // also emit the i<j pairwise grid verdicts
                                  // (the reference's heat map, :368-419)
    holmPooled: Boolean = false,  // pool one-vs-rest + pairwise p-values into
                                  // ONE Holm family per panel — the reference's
                                  // exact multtest family (:435-466); requires
                                  // pairwise=true. Default keeps the families
                                  // separate so each surface is independently
                                  // consumable (documented deviation).
    severity: String = "warn") extends Check {
  def referencedColumns: Seq[String] = Seq(valueCol, groupCol) ++ scope ++ dateCol
  override def temporalColumns: Seq[String] = dateCol.toSeq
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(CategoricalConsistency.outputs(input, this, shared.cells(id)))
}

/** Terminal-digit-preference check — re-expression of %digitpref
  * (DigitPref.sas): distribution of last digit at decimal place `place`
  * vs uniform (GOF chi-square, digits 0-9, sentinel -1 excluded),
  * per (panel, group); flags per DigitPref.sas:378-396.
  */
final case class DigitPreferenceCheck(
    id: String,
    column: String,
    place: Double = 1.0, // digit position: 1=ones, 0.1=tenths, 10=tens
    groupCol: String,
    dateCol: Option[String] = None,
    interval: String = "overall",
    scope: Seq[String] = Nil,
    alpha: Double = 0.01,
    noneThreshold: Double = 5.0, // % of values without the digit (flag 3)
    minNum: Long = 0,
    severity: String = "warn") extends Check {
  def referencedColumns: Seq[String] = Seq(column, groupCol) ++ scope ++ dateCol
  override def numericColumns: Seq[String] = Seq(column)
  override def temporalColumns: Seq[String] = dateCol.toSeq
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(DigitPreference.outputs(input, this, shared.cells(id)))
}

/** Group-variance homogeneity — re-expression of %groupComparisons
  * (groupComparisons.sas): whitened mixed-model residuals, Brown-Forsythe
  * test one-vs-rest per group, Holm-adjust, flag p < alpha.
  */
final case class GroupVarianceCheck(
    id: String,
    outcome: String,
    groupCol: String,
    discCovariates: Seq[String] = Nil,
    contCovariates: Seq[String] = Nil,
    scope: Seq[String] = Nil,
    alpha: Double = 0.1,
    severity: String = "warn",
    /** Variance-component estimator behind the whitening: "mom" (ANOVA
      * method-of-moments, fully distributed, the scale default) or "reml"
      * (exact profile REML — PROC MIXED's default method, matching the
      * reference's vciry source, groupComparisons.sas:393-401). */
    method: String = "mom",
    /** One feasible-GLS iteration on the fixed effects (see
      * LongitudinalOutlierCheck.fgls). */
    fgls: Boolean = false) extends Check {
  def referencedColumns: Seq[String] =
    Seq(outcome, groupCol) ++ discCovariates ++ contCovariates ++ scope
  override def numericColumns: Seq[String] = outcome +: contCovariates
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(GroupVariance.outputs(input, this))
}

/** Regression-outlier check — re-expression of %univariatePlot /
  * %bivariatePlot: OLS per scope group, flag |rStudent| >= tinv(cutoff)
  * and CookD > cookCutoff/n (BivariatePlot.sas:481-488).
  */
final case class RegressionOutlierCheck(
    id: String,
    outcome: String,
    idCol: String,
    contCovariates: Seq[String] = Nil,
    discCovariates: Seq[String] = Nil,
    scope: Seq[String] = Nil,
    cutoffPct: Double = 90,
    cookCutoff: Option[Double] = None, // e.g. Some(7.0) → flag D > 7/n
    severity: String = "warn") extends Check {
  def referencedColumns: Seq[String] =
    Seq(outcome, idCol) ++ discCovariates ++ contCovariates ++ scope
  override def numericColumns: Seq[String] = outcome +: contCovariates
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(RegressionOutlier.outputs(input, this))
}

/** Longitudinal within-entity outlier — re-expression of %longitudinalPlot
  * default config: random-intercept residuals per subject, flag
  * |scaled residual| >= tinv(cutoff, dfe-1) with the df<1.12 workaround.
  */
final case class LongitudinalOutlierCheck(
    id: String,
    outcome: String,
    idCol: String,
    contCovariates: Seq[String] = Nil,
    discCovariates: Seq[String] = Nil,
    scope: Seq[String] = Nil,
    cutoffPct: Double = 90,
    severity: String = "warn",
    /** Variance-component estimator: "mom" (ANOVA method-of-moments,
      * fully distributed, the scale default) or "reml" (exact REML
      * matching PROC MIXED's default method — longitudinalPlot.sas:
      * 423-442 — driver optimization over GUARDED per-size classes; with
      * `slopeVar` set, exact REML for the unstructured 2×2 G over guarded
      * design classes, RandomSlope.remlEstimates). */
    method: String = "mom",
    /** One feasible-GLS iteration: re-estimate the fixed effects with the
      * variance-component-weighted normal equations (PROC MIXED fits them
      * jointly; this closes most of that gap on unbalanced data at the
      * cost of one extra distributed pass). */
    fgls: Boolean = false,
    /** Denominator-df method for the flag cutoff — the reference passes
      * ddfm = &DDFM straight into PROC MIXED (longitudinalPlot.sas:433)
      * and cutoffs use the model's denominator df (:453-456).
      * "residual": df = N − rank(X) (PROC MIXED ddfm=residual, the
      * engine's default parity config). "betwithin": the within-subject
      * portion of PROC MIXED ddfm=bw — df = (N − k) − p_w, where k is the
      * subject count and p_w counts fixed-effect design columns that vary
      * within at least one subject. */
    ddfm: String = "residual",
    /** Random-effects design beyond the intercept — the reference's
      * `random=` / `type=UN` surface (longitudinalPlot.sas:49-51,
      * 128-129): `Some(t)` fits random INTERCEPT + t per subject with
      * unstructured 2×2 G by the Swamy-type two-stage MoM
      * (stats.RandomSlope); flags use the marginal studentized residual
      * r/√V_jj. None (default) keeps the random-intercept model. */
    slopeVar: Option[String] = None,
    /** Full multi-term `random=` surface: random INTERCEPT + every listed
      * (numeric) column per subject with unstructured (q×q) G — the
      * reference's arbitrary term-list form (`random &random / type=&type`,
      * longitudinalPlot.sas:436-440) beyond the intercept(+slope) special
      * cases. Estimated by the generalized Swamy two-stage MoM
      * (stats.RandomEffects — fully distributed, q×q solves only on
      * reduced frames, PSD eigen-clamp); flags use the marginal
      * studentized residual r/√(t'Ĝt + σ²ₑ). Mutually exclusive with
      * `slopeVar` (which stays the oracled q = 2 fast path). With
      * `method = "reml"`, exact q×q REML over guarded design classes
      * (stats.RandomEffects.remlEstimates) up to
      * RandomEffects.RemlMaxTerms terms; past that CheckCompiler
      * normalizes back to "mom" (the scale default) with a warning. */
    randomTerms: Seq[String] = Nil) extends Check {
  def referencedColumns: Seq[String] = Seq(outcome, idCol) ++ discCovariates ++
    contCovariates ++ randomTerms ++ slopeVar ++ scope
  override def numericColumns: Seq[String] =
    (outcome +: contCovariates) ++ randomTerms ++ slopeVar
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(LongitudinalOutlier.outputs(input, this))
}

/** Unstructured-covariance panel outlier — the PROC MIXED
  * `repeated <slot> / subject=<id> type=UN` surface of
  * longitudinalPlot.sas:423-442 as a first-class check, for
  * slot-structured panels (visit / calendar-bin designs), complementing
  * the random-intercept default (LongitudinalOutlierCheck).
  *
  * Per scope: the panel value is the per-(subject, slot) outcome mean;
  * complete-case subjects form the panel; Σ̂ is the pooled residual
  * cross-product matrix; each subject's Mahalanobis d² = rᵀ Σ̂⁻¹ r is
  * flagged against the χ²_T quantile at `cutoffPct`. Scopes with a
  * singular Σ̂ report pass = null (not evaluable); scopes whose slot
  * count exceeds `stats.UnCov.MaxSlots` are excluded (T² blow-up guard).
  */
final case class UnPanelCheck(
    id: String,
    outcome: String,
    idCol: String,
    /** The repeated-measure slot: either an existing column (`slotCol`) or
      * a calendar bin derived from `dateCol` at `interval` (the reference's
      * visit/period panels, Categorical_Check.sas:104-141 binning applied
      * to the MIXED `repeated` slot). Exactly one of the two must be set —
      * compile defaults a both/neither misconfiguration to dateCol form
      * when a dateCol exists and aborts otherwise. */
    slotCol: String = "",
    dateCol: Option[String] = None,
    interval: String = "quarter",
    scope: Seq[String] = Nil,
    cutoffPct: Double = 99.0,
    severity: String = "warn") extends Check {
  def referencedColumns: Seq[String] =
    Seq(outcome, idCol) ++ Seq(slotCol).filter(_.nonEmpty) ++ dateCol ++ scope
  override def numericColumns: Seq[String] = Seq(outcome)
  override def temporalColumns: Seq[String] = dateCol.toSeq
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(UnPanelOutlier.outputs(input, this))
}

/** Distribution drift across time windows (north rule): equal-width
  * histogram of `column` per `interval` window of `dateCol`; chi-square +
  * KS statistic of each window vs the pooled rest; flag p < alpha.
  * Generalizes CategoricalConsistency to numeric columns.
  */
final case class DriftCheck(
    id: String,
    column: String,
    dateCol: String,
    interval: String = "quarter",
    bins: Int = 20,
    scope: Seq[String] = Nil,
    alpha: Double = 0.01,
    ksThreshold: Double = 0.2,
    severity: String = "warn") extends Check {
  def referencedColumns: Seq[String] = Seq(column, dateCol) ++ scope
  override def numericColumns: Seq[String] = Seq(column)
  override def temporalColumns: Seq[String] = Seq(dateCol)
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(Drift.outputs(input, this, shared.cells(id)))
}

/** Near-duplicate content check — the LLM-pipeline dedup surface as a
  * first-class validation check: exact duplicates by normalized-text
  * fingerprint PLUS simhash near-duplicates at Hamming ≤ `maxHamming`
  * (pigeonhole block-split, guaranteed recall at the threshold, hot
  * buckets capped at `maxBucket`). One verdict row: the drop fraction
  * (exact non-keepers ∪ near-dup pair losers) vs `maxDupFrac`; one
  * violation row per dropped id naming what it duplicates.
  *
  * Semantics are run-local: under `runResumable` the pairs are generated
  * within each unit slice (cross-unit near-dups need a persisted global
  * signature store — the documented production shape). Scope columns are
  * not supported (pair generation is corpus-global); a non-empty scope
  * normalizes to global with a warning.
  */
final case class NearDupCheck(
    id: String,
    idCol: String = "url",
    textCol: String = "text",
    maxHamming: Int = 3,
    maxDupFrac: Double = 0.0,
    maxBucket: Int = 5000,
    scope: Seq[String] = Nil,
    severity: String = "warn") extends Check {
  def referencedColumns: Seq[String] = Seq(idCol, textCol)
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(Dedup.outputs(input, this))
}

/** Byte-identity audit: sha2-256 of `column` grouped by key must have
  * exactly one value per key across the table (north-rule text invariant).
  * The invariant is table-wide, so scope columns are not supported; a
  * non-empty scope normalizes to global with a warning.
  */
final case class ByteIdentityCheck(
    id: String,
    keyCol: String,
    column: String,
    scope: Seq[String] = Nil,
    severity: String = "error") extends Check {
  def referencedColumns: Seq[String] = Seq(keyCol, column)
  private[graft] def outputs(input: DataFrame, shared: SharedScans) =
    Some(ByteIdentity.outputs(input, this, shared.keyScan(id)))
}
