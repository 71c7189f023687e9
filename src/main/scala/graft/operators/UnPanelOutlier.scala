package graft.operators

import graft.checks.Results
import graft.engine.CacheTracker.TrackedCacheOps
import graft.stats.{PanelFitAgg, UnCov}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unstructured-covariance (`type=UN`) panel outlier check — the PROC
  * MIXED `repeated <slot> / subject=<id> type=UN` surface of
  * longitudinalPlot.sas:423-442, for slot-structured panels (visit /
  * calendar-bin panels), complementing the random-intercept default
  * (LongitudinalOutlier).
  *
  * Semantics (see UnCov for the estimator statement): the panel value is
  * the per-(subject, slot) mean of the outcome; subjects observed in every
  * slot of their scope form the complete-case panel; fixed effects are the
  * slot cell means (= GLS for any Σ on balanced data); Σ̂ is the pooled
  * residual cross-product matrix; each subject's d² = rᵀ Σ̂⁻¹ r is flagged
  * against the χ²_T quantile at `cutoffPct`.
  *
  * Spark shape: ONE lazy plan, no Spark job at build time, O(T²) state
  * per scope key (T ≤ `UnCov.MaxSlots`):
  *   1. cell means — one groupBy (key, subject, slot), the only pass over
  *      the input;
  *   2. subject vectors — one groupBy (key, subject) collecting each
  *      subject's slot-ordered (slot, y) vector;
  *   3. per-key fit — one groupBy (key) running `PanelFitAgg` (the slot
  *      domain, count, mean vector and co-moment matrix of the complete
  *      subjects, merged map-side), whose result is T, μ, Σ̂⁻¹ and the
  *      χ²_T cutoff;
  *   4. scoring — the fit row is BROADCAST back onto the subject vectors,
  *      which keep the complete subjects, and d² = (y − μ)ᵀ Σ̂⁻¹ (y − μ) is
  *      one UDF call per subject.
  * The subject vectors are cached (lazily) and read by steps 3 and 4, so
  * the input is scanned once. Nothing subject-proportional reaches the
  * driver or sits in one task; no sort-merge join and no window.
  * Scopes whose Σ̂ is singular (k ≤ T or degenerate residuals) are
  * reported as not-evaluable (`pass = null` verdict); scopes whose slot
  * count exceeds `UnCov.MaxSlots` are EXCLUDED from evaluation — both
  * policies explicit, nothing fabricated.
  */
object UnPanelOutlier {

  final case class Config(
      id: String,
      outcome: String,
      idCol: String,
      slotCol: String,
      scope: Seq[String] = Nil,
      cutoffPct: Double = 99.0,
      severity: String = "warning")

  /** First-class check → (input with slot column, operator config). A
    * dateCol-form check derives its slot as a calendar bin here (narrow
    * projection, no shuffle); a slotCol-form check passes through. */
  def prepared(df: DataFrame, c: graft.checks.UnPanelCheck): (DataFrame, Config) =
    c.dateCol match {
      case Some(d) =>
        // INT panel code, not the label: the slot is internal (dense index
        // + ordering only — code order == label order) and the label build
        // was per-row string work in the full scan
        (df.withColumn("__un_slot", PanelBins.panelCode(col(d), c.interval)),
          Config(c.id, c.outcome, c.idCol, "__un_slot", c.scope, c.cutoffPct, c.severity))
      case None =>
        (df, Config(c.id, c.outcome, c.idCol, c.slotCol, c.scope, c.cutoffPct, c.severity))
    }

  private def keyed(df: DataFrame, cfg: Config): DataFrame = {
    val keyCol =
      if (cfg.scope.isEmpty) lit("")
      else concat_ws("/", cfg.scope.map(c => coalesce(col(c).cast("string"), lit("∅"))): _*)
    df.filter(col(cfg.outcome).isNotNull && col(cfg.slotCol).isNotNull &&
        col(cfg.idCol).isNotNull)
      .withColumn("__key", keyCol)
  }

  /** One row per (key, subject): d², the χ² cutoff, and the outlier flag.
    * `d2`, `cutoff`, `t_slots` and `k_subjects` are null where the scope
    * was not evaluable (singular Σ̂). */
  def scored(df: DataFrame, cfg: Config): DataFrame = {
    // group by the NATIVE subject id; the public string form is rendered
    // per complete subject, not per input row
    val cell = keyed(df, cfg)
      .groupBy(col("__key"), col(cfg.idCol).as("__subjN"),
        col(cfg.slotCol).as("__slot"))
      .agg(avg(col(cfg.outcome).cast("double")).as("__y"))
    // cached (one row per subject, lazily — no job here): both sides of
    // the broadcast join below read the subject vectors, and over a cached
    // input (the Runner's) Spark re-instances that input on one join side,
    // so the two sides' exchanges no longer match for reuse and the input
    // was scanned twice
    val subj = cell.groupBy("__key", "__subjN")
      .agg(sort_array(collect_list(struct(col("__slot"), col("__y")))).as("__v"))
      .trackedCache()
    // per key: slot domain T (keys past MaxSlots come back null and drop),
    // and μ, Σ̂⁻¹, cutoff over the subjects observed in all T slots
    val fits = subj.groupBy("__key")
      .agg(PanelFitAgg.fit(col("__v"), cfg.cutoffPct).as("__f"))
      .filter(col("__f").isNotNull)
      .select(col("__key"), col("__f.t").as("__T"), col("__f.mu").as("__mu"),
        col("__f.inv").as("__inv"), col("__f.cutoff").as("cutoff"),
        when(col("__f.inv").isNotNull, col("__f.t")).as("t_slots"),
        col("__f.k").as("k_subjects"))
    // complete-case subjects: a subject's slots are a subset of its key's
    // domain, so holding T of them is holding all of them — and its
    // slot-sorted values are then in the domain's order
    subj.join(broadcast(fits), Seq("__key"))
      .filter(size(col("__v")) === col("__T"))
      .select(col("__key"), col("__subjN").cast("string").as("__subj"),
        d2Udf(col("__v.__y"), col("__mu"), col("__inv")).as("d2"),
        col("cutoff"), col("t_slots"), col("k_subjects"))
      .withColumn("flag_outlier", coalesce(col("d2") > col("cutoff"), lit(false)))
  }

  /** d² of one subject against its key's fit; null when the key has none. */
  private val d2Udf = udf { (y: Seq[Double], mu: Seq[Double], inv: Seq[Seq[Double]]) =>
    Option(inv).map { m =>
      UnCov.mahalanobis(Array.tabulate(y.length)(i => y(i) - mu(i)), m.map(_.toArray).toArray)
    }
  }

  /** (verdicts, violations) of a first-class check from ONE cached scored
    * frame (one row per (scope, subject)). */
  def outputs(df: DataFrame, check: graft.checks.UnPanelCheck): (DataFrame, DataFrame) = {
    val (dfp, cfg) = prepared(df, check)
    val sc = scored(dfp, cfg).trackedCache()
    (verdictsFrom(sc, cfg), violationsFrom(sc, cfg))
  }

  def verdicts(df: DataFrame, cfg: Config): DataFrame =
    verdictsFrom(scored(df, cfg), cfg)

  /** Verdicts from a prebuilt `scored` frame. */
  def verdictsFrom(sc: DataFrame, cfg: Config): DataFrame = {
    val framed = sc.groupBy(col("__key")).agg(
      sum(when(col("flag_outlier"), 1L).otherwise(0L)).as("n_outliers"),
      count(lit(1)).as("n"),
      (max(when(col("d2").isNotNull, 1).otherwise(0)) === 1).as("evaluable"),
      first("cutoff").as("cut"))
      .select(
        col("__key").as("partition"),
        lit("un_panel_outliers").as("metric"),
        col("n_outliers").cast("double").as("stat"),
        col("cut").as("threshold"),
        col("n").as("n_obs"),
        when(col("evaluable"), col("n_outliers") === 0).as("pass"))
    Results.toVerdicts(framed, cfg.id, cfg.severity)
  }

  def violations(df: DataFrame, cfg: Config): DataFrame =
    violationsFrom(scored(df, cfg), cfg)

  def violationsFrom(sc: DataFrame, cfg: Config): DataFrame = {
    val v = sc.filter(col("flag_outlier")).select(
      col("__subj").as("key"),
      col("__key").as("partition"),
      concat(lit("d2="), round(col("d2"), 4).cast("string")).as("observed"),
      concat(lit("d2 < "), round(col("cutoff"), 4).cast("string")).as("expected"),
      lit("UN-covariance panel outlier").as("label"))
    Results.toViolations(v, cfg.id)
  }
}
