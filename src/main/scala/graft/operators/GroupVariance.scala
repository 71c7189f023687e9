package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{GroupVarianceCheck, Results}
import graft.stats.{Distributions, Holm, KllSketchAgg, VarComp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Group-variance homogeneity check — %groupComparisons re-expressed.
  *
  * Reference flow (groupComparisons.sas): mixed-model scaled (vciry)
  * residuals (:393-401) → per comparison group-vs-rest, Brown-Forsythe
  * homogeneity test (PROC GLM hovtest=bf on the scaled residuals,
  * :461-470) → Holm (:472-476) → flag p < α (:576). The reference runs ONE
  * PROC per comparison — k full scans; here the one-vs-rest expansion is an
  * `explode` (A10) so all comparisons ride one lineage.
  *
  * BF = one-way ANOVA F on z = |r* − median(side)|. Plan after the OLS /
  * whitening passes, over the cached residual frame:
  *   - per-group mergeable KLL sketches (exact until compaction, `SketchK`);
  *   - [[sideMedians]]: ONE groupBy(scope) → Scala kernel → per-group
  *     median vectors, joined back broadcast;
  *   - the single |r − m| pass over the residuals (side sums per group);
  *   - [[brownForsythe]]: ONE groupBy(scope) → Scala kernel (F, p, Holm),
  *     cached for verdicts and violations.
  */
object GroupVariance {

  /** Whitened residuals per row (covariate-adjusted, random-intercept
    * variance components per scope, symmetric-root scaling — SURVEY M5). */
  def scaledResiduals(df: DataFrame, check: GroupVarianceCheck): DataFrame = {
    val d = OlsPass.design(df, check.contCovariates, check.discCovariates)
    val base = df.filter(col(check.groupCol).isNotNull)
    val rawFits = OlsPass.fitPerGroupRaw(base, check.outcome, d, check.scope)
    // per-(scope, group) sufficient stats → variance components per scope,
    // entirely distributed (round-1 fix: no group-proportional collect);
    // whitening is column arithmetic over the broadcast-joined estimates.
    def subjStatsOf(fr: DataFrame) = fr
      .groupBy(col("__key"), col(check.groupCol).cast("string").as("__grp"))
      .agg(count(lit(1)).as("n"), sum("resid").as("s"), sum(col("resid") * col("resid")).as("ss"))
    // method="reml" mirrors LongitudinalOutlier: exact profile REML (the
    // PROC MIXED default the reference's vciry residuals come from); MoM
    // stays the fully distributed scale default — same output schema.
    def estOf(ss: DataFrame) =
      if (check.method.equalsIgnoreCase("reml")) VarComp.remlEstimates(ss)
      else VarComp.estimates(ss)
    val olsFits = rawFits.map { case (k, (_, f)) => k -> f }
    val withResid0 = OlsPass.rowStats(base, check.outcome, d, check.scope, olsFits)
    // the per-(scope, group) sufficient-stats frame is TINY (one row per
    // group) and serves BOTH consumers below — the variance-component
    // estimate AND the per-group (count, residual-sum) whitening join —
    // which used to be two separate full-table aggregations over the same
    // rows (round-6: cache it, one aggregation pass instead of two).
    val ss0 = subjStatsOf(withResid0).trackedCache()
    val est0 = estOf(ss0)
    // fgls: β re-estimated by GLS under est0, residuals + components
    // recomputed — one joint-estimation alternation (groupComparisons.sas
    // inherits PROC MIXED's joint fit through the vciry residuals)
    val (withResid, subjStats, est) =
      if (!check.fgls) (withResid0, ss0, est0)
      else {
        val keyed = OlsPass.withKey(base, check.outcome, d, check.scope)
        val glsFits = graft.stats.Fgls.refit(keyed, check.outcome, d,
          check.groupCol, rawFits.map { case (k, (r, _)) => k -> r }, est0)
        val wr = OlsPass.rowStats(base, check.outcome, d, check.scope, glsFits)
        val ssW = subjStatsOf(wr).trackedCache()
        (wr, ssW, estOf(ssW))
      }
    // per-group count/residual-sum via a broadcast join of the CACHED
    // stats frame, NOT a Window.partitionBy (the window plans a full
    // shuffle-SORT of the row-proportional frame) and NOT a second
    // aggregation (the stats frame already carries exactly these sums).
    // `base` filters null groups, so the equi-join keeps every row.
    val withGrp = withResid.withColumn("__grp", col(check.groupCol).cast("string"))
    val grpStats = subjStats.select(col("__key"), col("__grp"),
      col("n").as("__n_grp"), col("s").as("__rsum"))
    withGrp
      .join(broadcast(grpStats), Seq("__key", "__grp"))
      .join(broadcast(est), Seq("__key"), "left")
      .withColumn("rscaled", VarComp.whitenExpr(col("__n_grp"), col("resid"), col("__rsum")))
      .drop("sigma_b2", "sigma_e2", "k_subjects", "n_rows")
  }

  /** KLL parameter for the per-group median sketches: exact while a
    * group's residuals fit the sketch un-compacted (covers every golden
    * fixture and the oracle scales), normalized rank error ≲ 0.03% once
    * compaction starts (SURVEY M6 allows approx medians at this grain; the
    * q49 py-oracle compares at rtol 5e-3). Chosen over percentile_approx
    * because KLL partials MERGE: the "rest" side's median comes from
    * combining the k−1 complement groups' sketches inside the per-scope
    * kernel instead of re-aggregating the k×n exploded frame. */
  val SketchK = 16384

  /** Tail 1: ONE groupBy(scope) hands each scope's sorted (grp, sketch)
    * rows to [[scopeMedians]]. One row per group: meds(j) is the median of
    * the side `__grp` falls on when cmps(j) is compared with the rest. */
  private[graft] def sideMedians(perGrp: DataFrame): DataFrame =
    perGrp.groupBy(col("__key"))
      .agg(sort_array(collect_list(struct(col("__grp"), col("__sk")))).as("__g"))
      .select(col("__key"), explode(medUdf(col("__g"))).as("m"))
      .select(col("__key"), col("m.*"))

  final case class GroupMeds(__grp: String, cmps: Seq[String], meds: Seq[Double])

  /** One scope's medians from its sorted (grp, sketch) rows: side=1 reads
    * a comparison group's own sketch, side=0 merges the k−1 complement
    * sketches. A scope with a single group has no "rest" and yields
    * nothing (groupComparisons.sas:264). */
  private[operators] def scopeMedians(rows: Seq[Row]): Seq[GroupMeds] = {
    val grps = rows.map(_.getString(0))
    val sks = rows.map(r => r.getAs[Array[Byte]](1))
    if (grps.size < 2) Seq.empty
    else {
      def med(parts: Seq[Array[Byte]]) =
        KllSketchAgg.quantiles(KllSketchAgg.merge(parts, SketchK), Array(0.5))(0)
      val med1 = sks.map(s => med(Seq(s)))
      val med0 = sks.indices.map(j => med(sks.indices.filter(_ != j).map(sks)))
      grps.indices.map(g => GroupMeds(grps(g), grps,
        grps.indices.map(j => if (j == g) med1(j) else med0(j))))
    }
  }

  private val medUdf = udf(scopeMedians _)

  // field names are the tests frame's column names
  final case class Comparison(cmp: String, n: Long, stat: Double, p_raw: Double, p_holm: Double)

  /** One scope's Brown–Forsythe tests from its sorted (grp, n_g, [Σz | Σz²])
    * rows: comparison j splits the groups into side 1 (cmps(j) itself) and
    * side 0 (the rest); two-sample one-way ANOVA F on z, then Holm across
    * the scope's comparisons. */
  private[operators] def scopeBf(rows: Seq[Row], cmps: Seq[String]): Seq[Comparison] = {
    val k = cmps.size
    val out = cmps.indices.map { j =>
      // side → (n_s, Σz, Σz²)
      val sides = rows.groupBy(_.getString(0) == cmps(j)).map { case (own, rs) =>
        own -> (rs.map(_.getLong(1)).sum, rs.map(_.getSeq[Double](2)(j)).sum,
          rs.map(_.getSeq[Double](2)(k + j)).sum)
      }
      val n = sides.values.map(_._1).sum
      val (f, p) =
        if (sides.size != 2 || n <= 2) (Double.NaN, Double.NaN)
        else {
          val grand = sides.values.map(_._2).sum / n
          var ssb = 0.0; var ssw = 0.0
          sides.values.foreach { case (ns, sz, szz) =>
            val m = sz / ns
            ssb += ns * (m - grand) * (m - grand)
            ssw += szz - ns * m * m
          }
          val dfw = (n - 2).toDouble
          val f = if (ssw > 0) (ssb / 1.0) / (ssw / dfw) else Double.PositiveInfinity
          (f, Distributions.fPValue(f, 1.0, dfw))
        }
      Comparison(cmps(j), n, f, p, 0.0)
    }
    val holm = Holm.adjust(out.map(_.p_raw))
    out.indices.map(i => out(i).copy(p_holm = holm(i)))
  }

  private val bfUdf = udf(scopeBf _)

  /** Brown–Forsythe, tail 2: ONE groupBy(scope) of the per-group side
    * sums hands each scope's sorted rows to [[scopeBf]]. */
  private[graft] def brownForsythe(grpSums: DataFrame): DataFrame =
    grpSums.groupBy(col("__key"))
      .agg(sort_array(collect_list(struct(col("__grp"), col("n_g"), col("arr")))).as("__g"),
        first(col("cmps")).as("cmps"))
      .select(col("__key"), explode(bfUdf(col("__g"), col("cmps"))).as("t"))
      .select(col("__key"), col("t.*"))

  /** Per-(scope, grp) Brown-Forsythe group-vs-rest results with Holm. */
  def tests(df: DataFrame, check: GroupVarianceCheck): DataFrame = {
    // cached: the sketch pass and the |r − m| pass both read it, and
    // uncached the OLS + whitening pipeline would run twice (the reference
    // materializes its vciry residuals too, groupComparisons.sas:393-401)
    val r = scaledResiduals(df, check)
      .select(col("__key"), col("__grp"), col("rscaled")).trackedCache()
    // one mergeable KLL sketch per (scope, group): the comparison domain
    val perGrp = r.groupBy(col("__key"), col("__grp"))
      .agg(KllSketchAgg.sketch(col("rscaled"), SketchK).as("__sk"))
      .trackedCache()
    // one-vs-rest WITHOUT an explode: a row of group h needs |r − m| for
    // k side medians, a vector constant per (scope, group) that joins in
    // broadcast; stats.AbsDevSumsAgg loops over it, reading rows ONCE
    val grpSums = r.join(broadcast(sideMedians(perGrp)), Seq("__key", "__grp"))
      .groupBy(col("__key"), col("__grp"))
      .agg(count(lit(1)).as("n_g"),
        graft.stats.AbsDevSumsAgg.sums(col("rscaled"), col("meds")).as("arr"),
        first("cmps").as("cmps"))
    // k rows per scope, cached for verdicts + violations
    brownForsythe(grpSums).trackedCache()
  }

  /** (verdicts, violations) from ONE build of the (eager, Gram-collecting)
    * tests lineage. */
  def outputs(df: DataFrame, check: GroupVarianceCheck): (DataFrame, DataFrame) = {
    val t = tests(df, check)
    (verdictsFrom(t, check), violationsFrom(t, check))
  }

  /** Verdicts from a prebuilt `tests` frame. */
  def verdictsFrom(t: DataFrame, check: GroupVarianceCheck): DataFrame = {
    val framed = t.select(
      concat_ws("/", col("__key"), concat(lit("grp="), col("cmp"))).as("partition"),
      lit("brown_forsythe_vs_rest").as("metric"),
      col("stat"),
      col("p_holm").as("p_value"),
      lit(check.alpha).as("threshold"),
      col("n").cast("long").as("n_obs"),
      (col("p_holm").isNaN || col("p_holm") >= check.alpha).as("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  def violationsFrom(testsFrame: DataFrame, check: GroupVarianceCheck): DataFrame = {
    val t = testsFrame.filter(!col("p_holm").isNaN && col("p_holm") < check.alpha)
    val v = t.select(
      col("cmp").as("key"),
      col("__key").as("partition"),
      concat(lit("BF F="), round(col("stat"), 4).cast("string")).as("observed"),
      lit("variance homogeneous with rest").as("expected"),
      concat(lit("heterogeneous variance, p_holm="),
        round(col("p_holm"), 6).cast("string")).as("label"))
    Results.toViolations(v, check.id)
  }
}
