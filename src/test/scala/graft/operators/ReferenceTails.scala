package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks._
import graft.stats.{Distributions, Holm, KllSketchAgg, UnCov}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// The DataFrame tails these four operators ran before their per-panel
// Scala kernels, kept verbatim (objects renamed) as the equivalence
// reference for KernelEquivalenceSpec. Window totals, domain distincts,
// zero-fill shell joins and Holm collect_list round trips — one exchange
// per step. The last object is the UN-panel scoring lineage before its
// per-key co-moment kernel, the reference for UnPanelOutlierSpec. Not
// used by the engine.

/** CategoricalConsistency before its per-panel kernel. */
object CategoricalConsistencyRef {

  // row-level panel key is the INT code; the label is rendered on the
  // reduced counts frame (PanelBins.panelCode scaladoc has the rationale)
  private def panelCodeExpr(check: CategoricalConsistencyCheck) = check.dateCol match {
    case Some(dc) => PanelBins.panelCode(col(dc), check.interval)
    case None => lit(-1)
  }

  /** Contingency cells with one-vs-rest margins, zero-filled.
    * Output grain: (scopeCols..., panel, grp, value) with cnt, grp_total,
    * panel_value_total, panel_total.
    * @param pre pre-aggregated (scope..., panel, grp, value, cnt) counts
    *            from the fused CellScan — skips this check's own input scan.
    */
  def cells(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    // cache the reduced counts frame (panels × groups × categories rows —
    // tiny at any input scale): the shell domains, fill join, tests and
    // violations all reuse it, so the 10^12-row aggregation runs ONCE.
    // Spark's cache manager dedups identical plans, so verdicts+violations
    // share this cache across separate calls.
    val counts = pre.getOrElse {
      df.filter(col(check.valueCol).isNotNull && col(check.groupCol).isNotNull)
        .withColumn("panel", panelCodeExpr(check))
        .select((keyCols :+ check.groupCol :+ check.valueCol).map(col): _*)
        .groupBy((keyCols :+ check.groupCol :+ check.valueCol).map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .withColumnRenamed(check.groupCol, "grp")
        .withColumnRenamed(check.valueCol, "value")
        .trackedCache()
    }
    // panel label rendering happens HERE, on the reduced frame — the scan
    // grouped on the int panel code (no-op for caller-built string pres)
    val countsR = PanelBins.renderPanelCol(counts, check.interval)
    // zero-fill shell: (panel × grp) ⨯ (panel × value) domains (J6).
    // Null-safe joins: null scope values and null panels (null dateCol)
    // form real groups that must keep their counts, not be dropped/zeroed
    val grpDom = countsR.select((keyCols :+ "grp").map(col): _*).distinct()
    val valDom = countsR.select((keyCols :+ "value").map(col): _*).distinct()
    val shell = NullSafeJoin(grpDom, valDom, keyCols)
    val filled = NullSafeJoin.left(shell, countsR, keyCols :+ "grp" :+ "value")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wGrp = Window.partitionBy((keyCols :+ "grp").map(col): _*)
    val wVal = Window.partitionBy((keyCols :+ "value").map(col): _*)
    val wPanel = Window.partitionBy(keyCols.map(col): _*)
    filled
      .withColumn("grp_total", sum("cnt").over(wGrp))
      .withColumn("panel_value_total", sum("cnt").over(wVal))
      .withColumn("panel_total", sum("cnt").over(wPanel))
  }

  /** Per-(panel, grp) one-vs-rest test results: chi-square / Freeman–Halton
    * Fisher on the full table, raw p, Holm-adjusted p within panel.
    */
  def tests(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    holmWithinPanel(oneVsRestRaw(df, check, pre), check.scope :+ "panel")

  /** One-vs-rest frame with raw p-values, BEFORE the Holm adjustment —
    * the multtest input rows the reference tags plot='Stacked'
    * (Categorical_Check.sas:435-441). */
  private[operators] def oneVsRestRaw(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    val c = cells(df, check, pre)
    // one-vs-rest 2×C cells: o1 = cnt, o2 = panel_value_total - cnt
    // expected under homogeneity: e1 = grp_total * pvt / N, e2 = (N-grp_total) * pvt / N
    val withE = c
      .withColumn("o1", col("cnt").cast("double"))
      .withColumn("o2", (col("panel_value_total") - col("cnt")).cast("double"))
      .withColumn("e1", col("grp_total") * col("panel_value_total") / col("panel_total"))
      .withColumn("e2", (col("panel_total") - col("grp_total")) * col("panel_value_total") / col("panel_total"))
      .withColumn("x2_term",
        when(col("e1") > 0, pow(col("o1") - col("e1"), 2) / col("e1")).otherwise(0.0) +
        when(col("e2") > 0, pow(col("o2") - col("e2"), 2) / col("e2")).otherwise(0.0))
    val perGrp = withE
      .groupBy((keyCols :+ "grp").map(col): _*)
      .agg(
        sum("x2_term").as("stat"),
        (countDistinct("value") - 1).cast("double").as("df"),
        first("grp_total").as("n_grp"),
        first("panel_total").as("n_panel"),
        // 2×2 cells for Fisher when the panel has exactly 2 categories:
        // sort by value for determinism
        sort_array(collect_list(struct(col("value"), col("o1"), col("o2")))).as("cells2"))
      .filter(col("n_grp") > check.minNum && col("df") >= 1 &&
        col("n_panel") > col("n_grp")) // a single-group panel has no "rest"
    val useFisher = check.test.equalsIgnoreCase("fisher")
    // which test actually produced the p-value: fisher runs the
    // Freeman–Halton network algorithm on the full 2×C table (matching
    // PROC FREQ's exact test on var×inBar, Categorical_Check.sas:298,305);
    // only when the table exceeds the exact-enumeration budget do we fall
    // back to chi-square, FLAGGED so the verdict row is honest about the
    // substitution (SURVEY §7.6.2).
    val pUdf = udf((stat: Double, dfree: Double,
        cells2: Seq[org.apache.spark.sql.Row]) => {
      if (useFisher) {
        val row1 = cells2.map(_.getDouble(1).round).toArray
        val row2 = cells2.map(_.getDouble(2).round).toArray
        Distributions.fisherExact2xC(row1, row2) match {
          case Some(p) => (p, "fisher")
          case None => (Distributions.chiSqPValue(stat, dfree), "chisq_fallback")
        }
      } else (Distributions.chiSqPValue(stat, dfree), "chisq")
    })
    perGrp
      .withColumn("pt", pUdf(col("stat"), col("df"), col("cells2")))
      .withColumn("p_raw", col("pt._1"))
      .withColumn("test_used", col("pt._2"))
      .drop("cells2", "pt")
  }

  /** Pairwise (i<j) group-vs-group tests — the reference's heat-map grid
    * (Categorical_Check.sas:368-419): one chi-square/Fisher per group pair
    * per panel over the values × {gᵢ, gⱼ} table, untestable/missing pairs
    * fall back to p=1 (:402-416), Holm within panel across all pairs.
    *
    * The reference runs O(k²) PROC FREQ re-scans; here the whole grid is a
    * self-join of the cached counts frame (panels × C(k,2) × categories
    * rows — thousands at any input scale) plus one shell join for the
    * missing pairs, so input rows are scanned ONCE regardless of k.
    *
    * Deviations documented: (a) df counts categories with a nonzero pair
    * row total (SAS /zeros keeps all-zero rows in the printed table; they
    * contribute no information); (b) by default Holm is applied over the
    * pairwise family per panel so each surface is independently
    * consumable — `holmPooled=true` reproduces the reference's exact
    * pooled multtest family instead (`pooledTests`, :435-466).
    */
  def pairwiseTests(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    holmWithinPanel(pairwiseRaw(df, check, pre), check.scope :+ "panel")

  /** Pairwise frame with raw p-values, BEFORE the Holm adjustment — the
    * multtest input rows the reference tags plot='Heat'
    * (Categorical_Check.sas:435-448). */
  private[operators] def pairwiseRaw(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    val c = cells(df, check, pre)
      .filter(col("grp_total") > check.minNum)
      .select((keyCols.map(col) :+ col("grp") :+ col("value") :+
        col("cnt") :+ col("grp_total")): _*)
    val a = c.select((keyCols.map(col) :+ col("grp").as("grp1") :+ col("value") :+
      col("cnt").as("c1") :+ col("grp_total").as("n1")): _*)
    val b = c.select((keyCols.map(col) :+ col("grp").as("grp2") :+ col("value") :+
      col("cnt").as("c2") :+ col("grp_total").as("n2")): _*)
    val withE = NullSafeJoin(a, b, keyCols :+ "value")
      .filter(col("grp1") < col("grp2"))
      .withColumn("rv", (col("c1") + col("c2")).cast("double"))
      .withColumn("n", (col("n1") + col("n2")).cast("double"))
      .withColumn("e1", col("n1") * col("rv") / col("n"))
      .withColumn("e2", col("n2") * col("rv") / col("n"))
      .withColumn("x2_term",
        when(col("e1") > 0, pow(col("c1") - col("e1"), 2) / col("e1")).otherwise(0.0) +
        when(col("e2") > 0, pow(col("c2") - col("e2"), 2) / col("e2")).otherwise(0.0))
    val perPair = withE
      .groupBy((keyCols :+ "grp1" :+ "grp2").map(col): _*)
      .agg(
        sum("x2_term").as("stat"),
        (countDistinct(when(col("rv") > 0, col("value"))) - 1).cast("double").as("df"),
        first("n1").as("n1"),
        first("n2").as("n2"),
        sort_array(collect_list(when(col("rv") > 0,
          struct(col("value"), col("c1").cast("double"), col("c2").cast("double"))))).as("cells2"))
    // missing-pair shell: the reference emits p=1 rows for pairs PROC FREQ
    // could not test (:402-416) — here any (panel, pair) where one group is
    // absent (or the table is degenerate, df < 1)
    val grpDomGlobal = c.select(col("grp")).distinct()
    val pairDom = grpDomGlobal.select(col("grp").as("grp1"))
      .crossJoin(grpDomGlobal.select(col("grp").as("grp2")))
      .filter(col("grp1") < col("grp2"))
    val panelDom = c.select(keyCols.map(col): _*).distinct()
    val shell = panelDom.crossJoin(pairDom)
    val full = NullSafeJoin.left(shell, perPair, keyCols :+ "grp1" :+ "grp2")
      .withColumn("n1", coalesce(col("n1"), lit(0L)))
      .withColumn("n2", coalesce(col("n2"), lit(0L)))
    val useFisher = check.test.equalsIgnoreCase("fisher")
    val pUdf = udf((dfree: java.lang.Double, stat: java.lang.Double,
        cells2: Seq[org.apache.spark.sql.Row]) => {
      if (dfree == null || dfree < 1) (1.0, "missing_pair") // missing/untestable pair
      else if (useFisher) {
        // rows = the two groups, columns = values — transpose of PROC
        // FREQ's var×inBar table, same exact test by symmetry
        val row1 = cells2.map(_.getDouble(1).round).toArray
        val row2 = cells2.map(_.getDouble(2).round).toArray
        Distributions.fisherExact2xC(row1, row2) match {
          case Some(p) => (p, "fisher")
          case None => (Distributions.chiSqPValue(stat, dfree), "chisq_fallback")
        }
      } else (Distributions.chiSqPValue(stat, dfree), "chisq")
    })
    // fallback p=1 rows stay in the Holm family (the reference's multtest
    // input includes them, :435-448)
    full
      .withColumn("pt", pUdf(col("df"), col("stat"), col("cells2")))
      .withColumn("p_raw", col("pt._1"))
      .withColumn("test_used", col("pt._2"))
      .drop("cells2", "pt")
  }

  /** The reference's EXACT multtest family: one-vs-rest ('Stacked') and
    * pairwise ('Heat') p-values POOLED into one Holm step-down per panel
    * (Categorical_Check.sas:435-466), then split back. Returns
    * (oneVsRest, pairwise) frames with the pooled `p_holm`.
    *
    * Both input frames are products of the same cached cells frame, so
    * pooling adds no input scan — just one more reduced-frame union. */
  def pooledTests(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val keyCols = check.scope :+ "panel"
    val kc = keyCols.map(col)
    val stacked = oneVsRestRaw(df, check, pre)
    val heat = pairwiseRaw(df, check, pre)
    val sNorm = stacked.select(kc :+ lit("stacked").as("family") :+
      col("grp").cast("string").as("id1") :+ lit(null).cast("string").as("id2") :+
      col("p_raw"): _*)
    val hNorm = heat.select(kc :+ lit("heat").as("family") :+
      col("grp1").cast("string").as("id1") :+ col("grp2").cast("string").as("id2") :+
      col("p_raw"): _*)
    val adjusted = holmWithinPanel(sNorm.unionByName(hNorm), keyCols).drop("p_raw")
    val adjS = adjusted.filter(col("family") === "stacked")
      .select(kc :+ col("id1").as("grp") :+ col("p_holm"): _*)
    val adjH = adjusted.filter(col("family") === "heat")
      .select(kc :+ col("id1").as("grp1") :+ col("id2").as("grp2") :+ col("p_holm"): _*)
    (NullSafeJoin(stacked.withColumn("grp", col("grp").cast("string")),
        adjS, keyCols :+ "grp"),
      NullSafeJoin(heat.withColumn("grp1", col("grp1").cast("string"))
        .withColumn("grp2", col("grp2").cast("string")),
        adjH, keyCols :+ "grp1" :+ "grp2"))
  }

  /** The reference's `_All_` overall bar (Categorical_Check.sas:317-340):
    * per panel, the all-groups-combined distribution of `valueCol` with
    * row percents. Rides the cached counts frame — no extra input scan. */
  def overallBar(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    cells(df, check, pre)
      .select((keyCols.map(col) :+ col("value") :+
        col("panel_value_total") :+ col("panel_total")): _*)
      .distinct() // cells grain is (…, grp, value); totals repeat per grp
      .select((keyCols.map(col) :+
        lit("_All_").as("grp") :+
        col("value") :+
        col("panel_value_total").as("cnt") :+
        (col("panel_value_total") * 100.0 / col("panel_total")).as("row_pct") :+
        col("panel_total")): _*)
  }

  /** Holm step-down within each panel (M10). Group count per panel is tiny,
    * so collect_list per panel is safe at any input scale. */
  private[operators] def holmWithinPanel(withP: DataFrame, keyCols: Seq[String]): DataFrame = {
    val holmUdf = udf((ps: Seq[Double]) => Holm.adjust(ps.map(p => if (p == null) Double.NaN else p)))
    val spark = withP.sparkSession
    val rest = withP.columns.filterNot(keyCols.contains).toSeq
    withP
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(rest.map(col): _*)).as("rows"))
      .withColumn("adj", holmUdf(expr("transform(rows, r -> r.p_raw)")))
      .select((keyCols.map(col) :+
        expr("explode(arrays_zip(rows, adj)) as z")): _*)
      .select((keyCols.map(col) :+ col("z.rows.*") :+ col("z.adj").as("p_holm")): _*)
  }

  /** Both adjusted surfaces (one-vs-rest + optional pairwise grid),
    * computed ONCE — the Runner derives verdicts AND violations from
    * these, so the Fisher enumeration / Holm UDFs over the reduced frames
    * run once per suite run instead of once per output.
    * holmPooled reproduces the reference's exact multtest family (one-vs-
    * rest + pairwise pooled per panel, :435-466); otherwise each surface
    * is adjusted within its own family. */
  def surfaces(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): (DataFrame, Option[DataFrame]) = {
    val pooled = if (check.pairwise && check.holmPooled) Some(pooledTests(df, check, pre)) else None
    val t = pooled.map(_._1).getOrElse(tests(df, check, pre))
    val pair =
      if (!check.pairwise) None
      else Some(pooled.map(_._2).getOrElse(pairwiseTests(df, check, pre)))
    (t, pair)
  }

  def verdicts(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val (t, pair) = surfaces(df, check, pre)
    verdictsFrom(t, pair, df, check, pre)
  }

  /** Verdicts from prebuilt surfaces (see `surfaces`). */
  def verdictsFrom(t: DataFrame, pairT: Option[DataFrame], df: DataFrame,
      check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val framed = t.select(
      concat_ws("/",
        (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) ++
          Seq(concat(lit("panel="), col("panel")),
            concat(lit("grp="), col("grp").cast("string")))): _*).as("partition"),
      concat(col("test_used"), lit("_one_vs_rest")).as("metric"),
      col("stat"),
      col("p_holm").as("p_value"),
      lit(check.alphaBar).as("threshold"),
      col("n_grp").cast("long").as("n_obs"),
      (col("p_holm") >= check.alphaBar).as("pass"))
    // the reference's `_All_` overall bar (:317-340): one informational
    // verdict row per panel carrying the all-groups-combined n. MUST ride
    // the fused cell counts (`pre`) like every other surface: without it
    // this line re-scans the full input once per categorical check
    val overall = overallBar(df, check, pre)
      .groupBy((check.scope :+ "panel").map(col): _*)
      .agg(first("panel_total").as("n_panel"))
      .select(
        concat_ws("/",
          (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) ++
            Seq(concat(lit("panel="), col("panel")), lit("grp=_All_"))): _*).as("partition"),
        lit("overall_bar").as("metric"),
        lit(null).cast("double").as("stat"),
        lit(null).cast("double").as("p_value"),
        lit(check.alphaBar).as("threshold"),
        col("n_panel").cast("long").as("n_obs"),
        lit(true).as("pass"))
    val pair = pairT.map { pt =>
      pt.select(
        concat_ws("/",
          (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) ++
            Seq(concat(lit("panel="), col("panel")),
              concat(lit("pair="), col("grp1").cast("string"),
                lit("|"), col("grp2").cast("string")))): _*).as("partition"),
        concat(col("test_used"), lit("_pairwise")).as("metric"),
        col("stat"),
        col("p_holm").as("p_value"),
        lit(check.alphaBar).as("threshold"),
        (col("n1") + col("n2")).cast("long").as("n_obs"),
        (col("p_holm") >= check.alphaBar).as("pass"))
    }
    val all = (Seq(framed, overall) ++ pair.toSeq).reduce(_ unionByName _)
    Results.toVerdicts(all, check.id, check.severity)
  }

  /** Violation rows: for every failing (panel, grp), its worst-deviating
    * category with observed vs expected row-percent. */
  def violations(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    violationsFrom(surfaces(df, check, pre)._1, df, check, pre)

  def violationsFrom(base: DataFrame, df: DataFrame,
      check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    val t = base.filter(col("p_holm") < check.alphaBar)
      .select((keyCols :+ "grp").map(col) :+ col("p_holm"): _*)
    val c = cells(df, check, pre)
      .withColumn("dev",
        when(col("grp_total") > 0 && col("panel_value_total") > 0,
          abs(col("cnt") / col("grp_total") -
            col("panel_value_total") / col("panel_total")))
          .otherwise(0.0))
    val joined = NullSafeJoin(c, t, keyCols :+ "grp")
    val w = Window.partitionBy((keyCols :+ "grp").map(col): _*).orderBy(col("dev").desc, col("value"))
    val worst = joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val v = worst.select(
      col("grp").cast("string").as("key"),
      concat_ws("/",
        (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) :+
          concat(lit("panel="), col("panel"))): _*).as("partition"),
      concat(col("value"), lit(" @ "),
        round(col("cnt") * 100.0 / col("grp_total"), 2).cast("string"), lit("%")).as("observed"),
      concat(col("value"), lit(" @ "),
        round(col("panel_value_total") * 100.0 / col("panel_total"), 2).cast("string"), lit("%")).as("expected"),
      concat(lit("inconsistent "), lit(check.valueCol), lit(" distribution, p_holm="),
        round(col("p_holm"), 6).cast("string")).as("label"))
    Results.toViolations(v, check.id)
  }
}

/** DigitPreference before its per-group kernel. */
object DigitPreferenceRef {

  // row-level panel key is the INT code; the label is rendered on the
  // reduced counts frame (PanelBins.panelCode scaladoc has the rationale)
  private def panelCodeExpr(check: DigitPreferenceCheck) = check.dateCol match {
    case Some(dc) => PanelBins.panelCode(col(dc), check.interval)
    case None => lit(-1)
  }

  /** Reduced-frame rendering of the scan-native keys back to the public
    * (panel label, string group) shape every downstream stage consumes. */
  private def rendered(counts: DataFrame, check: DigitPreferenceCheck): DataFrame =
    PanelBins.renderPanelCol(counts, check.interval)
      .withColumn("grp", col("grp").cast("string"))

  /** (scope, panel, grp, digit) counts with group totals — zero-filled over
    * the fixed digit domain −1..9 (DigitPref.sas:253-257).
    * @param pre pre-aggregated (scope..., panel, grp, digit, cnt) counts
    *            from the fused CellScan — skips this check's own input scan.
    */
  def digitCounts(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel" :+ "grp"
    // cached: ≤ 11 rows per (scope, panel, group); reused by the domain
    // shell, the tests and the violations lineages (one row-level pass)
    val counts = rendered(pre.getOrElse {
      df.filter(col(check.column).isNotNull && col(check.groupCol).isNotNull)
        .withColumn("panel", panelCodeExpr(check))
        .withColumn("grp", col(check.groupCol))
        .withColumn("digit", DigitPreference.digitAt(col(check.column).cast("double"), check.place))
        .groupBy((keyCols :+ "digit").map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .trackedCache()
    }, check)
    // fixed digit domain: explode literal array — no extra scan. Null-safe
    // fill join: null scope/panel groups keep their own counts
    val dom = counts.select(keyCols.map(col): _*).distinct()
      .withColumn("digit", explode(lit((-1 to 9).toArray)))
    NullSafeJoin.left(dom, counts, keyCols :+ "digit")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
  }

  /** Per-(scope, panel, grp) test frame: GOF chi-square (digits 0-9 vs
    * uniform), none-share %, flags. */
  def tests(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel" :+ "grp"
    val dc = digitCounts(df, check, pre)
    val perGrp = dc.groupBy(keyCols.map(col): _*).agg(
      sum(when(col("digit") >= 0, col("cnt")).otherwise(0L)).as("n_gof"),
      sum(col("cnt")).as("n_total"),
      sum(when(col("digit") === -1, col("cnt")).otherwise(0L)).as("n_none"),
      sum(when(col("digit") >= 0,
        pow(col("cnt").cast("double"), 2)).otherwise(0.0)).as("sum_sq"))
    // X² vs uniform: e = n/10 per digit; Σ(o−e)²/e = (Σo²)·10/n − n
    val withStat = perGrp
      .filter(col("n_total") > check.minNum)
      .withColumn("gof_stat",
        when(col("n_gof") > 0, col("sum_sq") * 10.0 / col("n_gof") - col("n_gof")).otherwise(lit(null)))
      .withColumn("none_pct", col("n_none") * 100.0 / col("n_total"))
    val pUdf = udf((stat: java.lang.Double) =>
      if (stat == null) Double.NaN else Distributions.chiSqPValue(stat, 9.0))
    withStat
      .withColumn("gof_p", pUdf(col("gof_stat")))
      .withColumn("flag_gof", col("gof_p") < check.alpha)
      .withColumn("flag_none", col("none_pct") > check.noneThreshold)
      .withColumn("pass", !(col("flag_gof") || col("flag_none")))
  }

  def verdicts(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame =
    verdictsFrom(tests(df, check, pre), check)

  /** Verdicts from a prebuilt `tests` frame — lets the Runner build the
    * tests lineage ONCE for both outputs. */
  def verdictsFrom(t: DataFrame, check: DigitPreferenceCheck): DataFrame = {
    val framed = t.select(
      partitionOf(check), lit("digit_gof_chisq").as("metric"),
      col("gof_stat").as("stat"), col("gof_p").as("p_value"),
      lit(check.alpha).as("threshold"), col("n_gof").cast("long").as("n_obs"),
      col("pass"))
    val noneFramed = t.select(
      partitionOf(check), lit("digit_none_pct").as("metric"),
      col("none_pct").as("stat"), lit(null).cast("double").as("p_value"),
      lit(check.noneThreshold).as("threshold"), col("n_total").cast("long").as("n_obs"),
      (!col("flag_none")).as("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
      .unionByName(Results.toVerdicts(noneFramed, check.id, check.severity))
  }

  private def partitionOf(check: DigitPreferenceCheck): Column =
    concat_ws("/",
      (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) ++
        Seq(concat(lit("panel="), col("panel")),
          concat(lit("grp="), col("grp")))): _*).as("partition")

  /** Violations: failing groups with their most-preferred digit. */
  def violations(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame =
    violationsFrom(tests(df, check, pre), df, check, pre)

  def violationsFrom(t: DataFrame, df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel" :+ "grp"
    val failing = t.filter(!col("pass"))
      .select((keyCols.map(col) :+ col("gof_p") :+ col("none_pct")): _*)
    val dc = digitCounts(df, check, pre).filter(col("digit") >= 0)
    val joined = NullSafeJoin(dc, failing, keyCols)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("cnt").desc, col("digit"))
    val v = joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("grp").as("key"),
        concat_ws("/",
          (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) :+
            concat(lit("panel="), col("panel"))): _*).as("partition"),
        concat(lit("digit "), col("digit").cast("string"), lit(" × "),
          col("cnt").cast("string")).as("observed"),
        lit("uniform 10% per digit").as("expected"),
        concat(lit("terminal-digit preference, gof_p="),
          round(col("gof_p"), 6).cast("string"),
          lit(", none%="), round(col("none_pct"), 2).cast("string")).as("label"))
    Results.toViolations(v, check.id)
  }
}

/** Drift before its per-scope kernel. */
object DriftRef {

  /** Bin index from broadcast edge columns. */
  private def binExpr(check: DriftCheck, v: Column, mn: Column, w: Column): Column =
    least(greatest(floor((v - mn) / w), lit(0.0)),
      lit((check.bins - 1).toDouble)).cast("int")

  /** Histogram cells: (scope..., panel, bin, cnt) with margins.
    * @param pre pre-aggregated (scope..., panel, bin, cnt) counts from the
    *            fused CellScan — skips this check's own input scan. */
  def histogram(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val v = col(check.column).cast("double")
    val keyCols = check.scope :+ "panel"
    val counts = pre.getOrElse {
      val base0 = df.filter(v.isNotNull && !isnan(v))
      val e = Drift.edgesMulti(df, Seq((check, "__mn", "__w")))
      base0
        .crossJoin(broadcast(e))
        .withColumn("panel", PanelBins.panelCode(col(check.dateCol), check.interval))
        .withColumn("bin", binExpr(check, v, col("__mn"), col("__w")))
        .groupBy((keyCols :+ "bin").map(col): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    // panel label rendering on the reduced frame (no-op for string pres)
    val countsR = PanelBins.renderPanelCol(counts, check.interval)
    // zero-fill over the full bin domain per (scope, panel) — like the
    // categorical shell join (J6): a bin empty in one window but populated
    // in the rest must contribute its (0−e)²/e term, its mass to the KS
    // cumulatives, and its slot to df; without the fill, strong-drift
    // windows UNDER-flag (round-1 ADVICE fix). Null-safe: null scope /
    // panel groups must match their own counts, not be zeroed out.
    val panelDom = countsR.select(keyCols.map(col): _*).distinct()
      .withColumn("bin", explode(lit((0 until check.bins).toArray)))
    NullSafeJoin.left(panelDom, countsR, keyCols :+ "bin")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .trackedCache() // windows × bins rows; tests + violations reuse one pass
  }

  /** Per-(scope, panel) drift tests vs pooled rest. */
  def tests(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel"
    val h = histogram(df, check, pre)
    val wScopeBin = Window.partitionBy((check.scope :+ "bin").map(col): _*)
    val wPanel = Window.partitionBy(keyCols.map(col): _*)
    // grand total per scope via a broadcast-joined aggregate: with an empty
    // scope a window here would be unpartitioned (single-partition
    // WindowExec warning noise that could mask a real regression). The join
    // must be null-safe (<=>): groupBy keeps null scope groups, and dirty
    // validation inputs hold null scope values by definition — an equi-join
    // would silently drop them from tests, verdicts, and violations.
    val grand = h.groupBy(check.scope.map(col): _*).agg(sum("cnt").as("grand_total"))
    val withGrand =
      if (check.scope.isEmpty) h.crossJoin(broadcast(grand))
      else {
        val g = broadcast(grand.select(
          check.scope.map(s => col(s).as(s"__g_$s")) :+ col("grand_total"): _*))
        h.join(g, check.scope.map(s => col(s) <=> col(s"__g_$s")).reduce(_ && _))
          .drop(check.scope.map(s => s"__g_$s"): _*)
      }
    val withTotals = withGrand
      .withColumn("bin_total", sum("cnt").over(wScopeBin))   // this bin, all windows
      .withColumn("panel_total", sum("cnt").over(wPanel))    // this window
      .withColumn("o1", col("cnt").cast("double"))
      .withColumn("o2", (col("bin_total") - col("cnt")).cast("double"))
      .withColumn("n1", col("panel_total").cast("double"))
      .withColumn("n2", (col("grand_total") - col("panel_total")).cast("double"))
    val withTerms = withTotals
      .withColumn("e1", col("n1") * col("bin_total") / col("grand_total"))
      .withColumn("e2", col("n2") * col("bin_total") / col("grand_total"))
      .withColumn("x2_term",
        when(col("e1") > 0, pow(col("o1") - col("e1"), 2) / col("e1")).otherwise(0.0) +
        when(col("e2") > 0, pow(col("o2") - col("e2"), 2) / col("e2")).otherwise(0.0))
      // KS: cumulative share difference per bin (ordered by bin)
      .withColumn("cum1", sum("o1").over(wPanel.orderBy("bin")) / col("n1"))
      .withColumn("cum2", sum("o2").over(wPanel.orderBy("bin")) / col("n2"))
      .withColumn("ks_term", abs(col("cum1") - col("cum2")))
    val perPanel = withTerms.groupBy(keyCols.map(col): _*).agg(
      sum("x2_term").as("stat"),
      (countDistinct(when(col("bin_total") > 0, col("bin"))) - 1).cast("double").as("df"),
      max("ks_term").as("ks"),
      first("n1").cast("long").as("n_panel"),
      first("n2").cast("long").as("n_rest"))
      .filter(col("n_rest") > 0 && col("df") >= 1)
    val pUdf = udf((s: Double, d: Double) => Distributions.chiSqPValue(s, d))
    val withP = perPanel.withColumn("p_raw", pUdf(col("stat"), col("df")))
    CategoricalConsistencyRef.holmWithinPanel(withP, check.scope.toList match {
      case Nil => Seq.empty[String] // Holm across all windows when unscoped
      case s => s
    }) match {
      case adjusted => adjusted
        .withColumn("flag_chisq", col("p_holm") < check.alpha)
        .withColumn("flag_ks", col("ks") > check.ksThreshold)
        .withColumn("pass", !(col("flag_chisq") || col("flag_ks")))
    }
  }

  def verdicts(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame =
    verdictsFrom(tests(df, check, pre), check)

  /** Verdicts from a prebuilt `tests` frame — lets the Runner build the
    * tests lineage ONCE for both outputs (GroupVariance pattern). */
  def verdictsFrom(t: DataFrame, check: DriftCheck): DataFrame = {
    val framed = t.select(
      concat_ws("/",
        (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) :+
          concat(lit("panel="), col("panel"))): _*).as("partition"),
      lit("drift_chisq_ks").as("metric"),
      col("stat"),
      col("p_holm").as("p_value"),
      lit(check.alpha).as("threshold"),
      col("n_panel").as("n_obs"),
      col("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  def violations(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame =
    violationsFrom(tests(df, check, pre), check)

  def violationsFrom(testsFrame: DataFrame, check: DriftCheck): DataFrame = {
    val t = testsFrame.filter(!col("pass"))
    val v = t.select(
      col("panel").as("key"),
      concat_ws("/",
        check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))): _*).as("partition"),
      concat(lit("chisq="), round(col("stat"), 4).cast("string"),
        lit(", ks="), round(col("ks"), 4).cast("string")).as("observed"),
      lit("distribution ≈ pooled rest").as("expected"),
      concat(lit(s"${check.column} drifted in window, p_holm="),
        round(col("p_holm"), 6).cast("string")).as("label"))
    Results.toViolations(v, check.id)
  }
}

/** GroupVariance before its two per-scope kernels. */
object GroupVarianceRef {

  val SketchK: Int = GroupVariance.SketchK

  /** Per-(scope, grp) Brown-Forsythe group-vs-rest results with Holm. */
  def tests(df: DataFrame, check: GroupVarianceCheck): DataFrame = {
    // cache the narrow (scope, grp, rscaled) frame: it feeds TWO branches
    // of this plan (the per-group sketch pass and the exploded z-score
    // pass) and Catalyst does not materialize common subplans — uncached,
    // the whole OLS + whitening pipeline would execute twice. The reference
    // materializes the vciry residual dataset before PROC GLM
    // (groupComparisons.sas:393-401); MEMORY_AND_DISK spills at scale.
    val r = GroupVariance.scaledResiduals(df, check)
      .select(col("__key"), col("__grp"), col("rscaled")).trackedCache()
    // ONE un-exploded pass: per-(scope, group) mergeable KLL sketch. This
    // frame is tiny (one row per group) and REPLACES both the old distinct
    // pass (the comparison domain is its key set) and the old exploded
    // medians pass (side medians fall out of sketch merges below) —
    // leaving a single k×n pass (sideStats) over the cached residuals.
    val perGrp = r.groupBy(col("__key"), col("__grp"))
      .agg(KllSketchAgg.sketch(col("rscaled"), SketchK).as("__sk"))
      .trackedCache()
    // comparison domain: distinct (scope, group), kept distributed and
    // broadcast-joined (round-1 fix: no driver collect; the reference's
    // distinct-into list, groupComparisons.sas:243-248, is a driver array).
    // Scopes with a single group have no "rest" → dropped here
    // (groupComparisons.sas:264).
    val kPerKey = perGrp.groupBy("__key").agg(count(lit(1)).as("__kgrp"))
    val dom = perGrp.select(col("__key"), col("__grp").as("cmp"))
      .join(broadcast(kPerKey), "__key").filter(col("__kgrp") >= 2).drop("__kgrp")
    // side medians on the k²-row reduced frame: side=1 reads the group's
    // own sketch, side=0 merges the k−1 complement sketches — no pass over
    // the row-proportional frame at all
    val medUdf = udf((sks: Seq[Array[Byte]]) =>
      KllSketchAgg.quantiles(KllSketchAgg.merge(sks, SketchK), Array(0.5))(0))
    // round-6 fusion: the old medians → medWide → grpMeds chain was THREE
    // reduced-frame aggregations + two joins; both sides of a comparison
    // now aggregate in ONE groupBy(key, cmp) (conditional collect_list —
    // nulls are skipped, so med1 sees exactly the group's own sketch and
    // med0 the complement merge, as before), and the per-group median
    // vector is a broadcast MAP over the per-key array instead of a third
    // aggregation exchange. Same values: sort_array orders by the unique
    // cmp exactly as the old struct(cmp, med) sort did.
    val medWide = perGrp.join(broadcast(dom), Seq("__key"))
      .withColumn("__own", col("__grp") === col("cmp"))
      .groupBy("__key", "cmp")
      .agg(medUdf(collect_list(when(col("__own"), col("__sk")))).as("med1"),
        medUdf(collect_list(when(!col("__own"), col("__sk")))).as("med0"))
    // one-vs-rest WITHOUT the explode (round-4 shape): each row of group h
    // needs |r − m| against k different side medians (side=1's own median
    // when c = h, side=0's rest median otherwise) — but that whole median
    // VECTOR is constant per (scope, group), so it rides in as ONE ordered
    // array on the tiny per-group frame and the k-length loop runs inside
    // a mergeable typed-imperative aggregate (stats.AbsDevSumsAgg). The
    // row-proportional frame is read ONCE at 1× — the previous
    // broadcast-join explode materialized k× rows through two hash probes
    // per comparison, the dominant suite cost at 100 M pages.
    val medArr = medWide.groupBy(col("__key"))
      .agg(sort_array(collect_list(struct(col("cmp"), col("med1"), col("med0")))).as("cm"))
    val grpMeds = perGrp.select(col("__key"), col("__grp"))
      .join(broadcast(medArr), Seq("__key"))
      .select(col("__key"), col("__grp"),
        col("cm.cmp").as("cmps"),
        transform(col("cm"), x =>
          when(x.getField("cmp") === col("__grp"), x.getField("med1"))
            .otherwise(x.getField("med0"))).as("meds"))
    val grpSums = r.join(broadcast(grpMeds), Seq("__key", "__grp"))
      .groupBy(col("__key"), col("__grp"))
      .agg(count(lit(1)).as("n_g"),
        graft.stats.AbsDevSumsAgg.sums(col("rscaled"), col("meds")).as("arr"),
        first("cmps").as("cmps"))
    // unpack the [Σz | Σz²] buffer on the k-rows-per-scope reduced frame
    // (k² tiny rows after the posexplode) and fold to per-(cmp, side) sums
    val kCol = size(col("cmps"))
    val sideStats = grpSums
      .select(col("__key"), col("__grp"), col("n_g"), col("cmps"),
        slice(col("arr"), lit(1), kCol).as("z1s"),
        slice(col("arr"), kCol + lit(1), kCol).as("z2s"))
      .select(col("__key"), col("__grp"), col("n_g"),
        posexplode(arrays_zip(col("cmps"), col("z1s"), col("z2s"))))
      .select(col("__key"), col("__grp"), col("n_g"),
        col("col.cmps").as("cmp"), col("col.z1s").as("z1"), col("col.z2s").as("z2"))
      .withColumn("side", when(col("__grp") === col("cmp"), 1).otherwise(0))
      .groupBy("__key", "cmp", "side")
      .agg(sum("n_g").as("n_s"), sum("z1").as("sz"), sum("z2").as("szz"))
    // two-sample one-way ANOVA F from side stats
    val perCmp = sideStats.groupBy("__key", "cmp").agg(
      sum("n_s").as("n"),
      sum("sz").as("sz_all"),
      collect_list(struct(col("side"), col("n_s"), col("sz"), col("szz"))).as("sides"))
    val fUdf = udf((n: Long, szAll: Double, sides: Seq[org.apache.spark.sql.Row]) => {
      if (sides.size != 2 || n <= 2) (Double.NaN, Double.NaN)
      else {
        val grand = szAll / n
        var ssb = 0.0; var ssw = 0.0
        sides.foreach { s =>
          val ns = s.getLong(1); val sz = s.getDouble(2); val szz = s.getDouble(3)
          val m = sz / ns
          ssb += ns * (m - grand) * (m - grand)
          ssw += szz - ns * m * m
        }
        val dfw = (n - 2).toDouble
        val f = if (ssw > 0) (ssb / 1.0) / (ssw / dfw) else Double.PositiveInfinity
        (f, Distributions.fPValue(f, 1.0, dfw))
      }
    })
    val withF = perCmp
      .withColumn("__fp", fUdf(col("n"), col("sz_all"), col("sides")))
      .withColumn("stat", col("__fp._1"))
      .withColumn("p_raw", col("__fp._2"))
      .drop("__fp", "sides", "sz_all")
    // per-comparison rows only (k per scope) — cached so verdicts +
    // violations share one computation (cache-manager plan dedup)
    CategoricalConsistencyRef.holmWithinPanel(withF, Seq("__key")).trackedCache()
  }

  def verdicts(df: DataFrame, check: GroupVarianceCheck): DataFrame =
    verdictsFrom(tests(df, check), check)

  /** Verdicts from a prebuilt `tests` frame — lets the Runner build the
    * (eager, Gram-collecting) tests lineage ONCE for both outputs. */
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

  def violations(df: DataFrame, check: GroupVarianceCheck): DataFrame =
    violationsFrom(tests(df, check), check)

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


/** UnPanelOutlier before its per-key co-moment kernel: a cached cell
  * frame, a T² self-join for the pooled cross-products, a driver collect
  * of the per-key Σ̂ entries and a `sparkContext.broadcast` of the
  * inverses — about 30 Spark jobs at build time. */
object UnPanelOutlierRef {

  /** Pooled cross-product entries per scope key from a complete-case panel
    * frame (one row per (key, subj, slot) with a residual column).
    *
    * @return one row per (key, slot1 ≤ slot2): (spp = Σ_subj r₁·r₂,
    *         k = subject count) — ≤ T(T+1)/2 rows per key.
    */
  def pooledCrossProducts(panel: DataFrame, keyCol: String, subjCol: String,
      slotCol: String, residCol: String): DataFrame = {
    val a = panel.select(col(keyCol).as("__k"), col(subjCol).as("__s"),
      col(slotCol).as("s1"), col(residCol).as("r1"))
    val b = panel.select(col(keyCol).as("__k"), col(subjCol).as("__s"),
      col(slotCol).as("s2"), col(residCol).as("r2"))
    a.join(b, Seq("__k", "__s"))
      .filter(col("s1") <= col("s2"))
      .groupBy(col("__k").as(keyCol), col("s1"), col("s2"))
      .agg(sum(col("r1") * col("r2")).as("spp"),
        count(lit(1)).as("k_subjects"))
  }

  /** Driver-side Σ̂ from the collected entries of ONE key: unbiased pooled
    * covariance (divisor k − 1 — residuals are from slot means estimated
    * on the same k subjects). Entries index into the dense slot order
    * 0..T-1 the caller derived. */
  def covMatrix(entries: Seq[(Int, Int, Double)], nSlots: Int, k: Long): Array[Array[Double]] = {
    val m = Array.ofDim[Double](nSlots, nSlots)
    val div = math.max(1L, k - 1L).toDouble
    entries.foreach { case (i, j, spp) =>
      m(i)(j) = spp / div
      m(j)(i) = spp / div
    }
    m
  }

  private def keyed(df: DataFrame, cfg: UnPanelOutlier.Config): DataFrame = {
    val keyCol =
      if (cfg.scope.isEmpty) lit("")
      else concat_ws("/", cfg.scope.map(c => coalesce(col(c).cast("string"), lit("∅"))): _*)
    df.filter(col(cfg.outcome).isNotNull && col(cfg.slotCol).isNotNull &&
        col(cfg.idCol).isNotNull)
      .withColumn("__key", keyCol)
  }

  /** Complete-case panel with dense slot index and residuals from slot
    * means: one row per (key, subj, slot) with `__si`, `__r`, `__T`. */
  def residualPanel(df: DataFrame, cfg: UnPanelOutlier.Config): DataFrame = {
    // group by the NATIVE subject id; the public string form is rendered
    // on the reduced one-row-per-(subj, slot) frame, not per input row
    // cache the reduced cell frame (one row per (key, subj, slot) — tiny
    // at any input scale): it feeds FOUR plan branches (the slot domain,
    // the complete-subject filter, the slot means and the final join), and
    // uncached each branch re-ran the full-input groupBy (measured ~4 ×
    // 1.5 s of the un-panel family's 6.4 s bench leg at 2 M pages).
    import graft.engine.CacheTracker.TrackedCacheOps
    val cell = keyed(df, cfg)
      .groupBy(col("__key"), col(cfg.idCol).as("__subjN"),
        col(cfg.slotCol).as("__slot"))
      .agg(avg(col(cfg.outcome).cast("double")).as("__y"))
      .withColumn("__subj", col("__subjN").cast("string")).drop("__subjN")
      .trackedCache()
    // slot domain per key with a dense 0-based index, in ONE reduced agg:
    // distinct (key, slot) → per-key sorted slot array → posexplode. This
    // replaced a distinct + T² inequality self-join + two groupBys (round-5
    // stage-latency trim: the un-panel family's cost at bench scale was
    // mostly fixed stage latency, BENCH/BASELINE.md) and it also degrades
    // linearly on a hostile high-cardinality slot column — the self-join
    // form went quadratic in T BEFORE the MaxSlots filter could drop the
    // key, while collect_set holds ≤ T values per key and the filter runs
    // on the array size. Slot count past MaxSlots → key excluded (same
    // explicit policy as before).
    val slotIdx = cell.select("__key", "__slot").distinct()
      .groupBy("__key")
      .agg(sort_array(collect_set(col("__slot"))).as("__slots"))
      .filter(size(col("__slots")) <= UnCov.MaxSlots)
      .select(col("__key"), size(col("__slots")).cast("int").as("__T"),
        posexplode(col("__slots")))
      .select(col("__key"), col("col").as("__slot"),
        col("pos").cast("int").as("__si"), col("__T"))
    val cellIdx = cell.join(broadcast(slotIdx), Seq("__key", "__slot"))
    // complete-case subjects: observed in every slot of their scope
    val completeSubj = cellIdx.groupBy("__key", "__subj")
      .agg(count(lit(1)).as("__ns"), first("__T").as("__t"))
      .filter(col("__ns") === col("__t"))
      .select("__key", "__subj")
    val pan = cellIdx.join(completeSubj, Seq("__key", "__subj"), "left_semi")
    // slot means over the retained (complete) subjects → residuals
    val mu = pan.groupBy("__key", "__si")
      .agg(avg("__y").as("__mu"))
    pan.join(broadcast(mu), Seq("__key", "__si"))
      .withColumn("__r", col("__y") - col("__mu"))
  }

  /** One row per (key, subject): d², the χ² cutoff, and the outlier flag.
    * `d2` is null where the scope was not evaluable (singular Σ̂). */
  def scored(df: DataFrame, cfg: UnPanelOutlier.Config): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import graft.engine.CacheTracker.TrackedCacheOps
    // the panel lineage (filter → 2 groupBys → 4 joins over the full
    // input) is executed by BOTH the Σ̂ collect below and the scoring
    // groupBy — cached so the row-proportional frame is read once, not
    // twice (narrow: one row per (key, subj, slot), slots ≤ MaxSlots)
    val panel = residualPanel(df, cfg).trackedCache()
    // T² entries per scope — the ONLY driver-side collect, key-proportional
    val entries = pooledCrossProducts(panel, "__key", "__subj", "__si", "__r")
      .collect()
      .groupBy(_.getString(0))
    val perKey: Map[String, (Array[Array[Double]], Int, Long)] =
      entries.flatMap { case (k, rows) =>
        val t = rows.map(_.getInt(2)).max + 1
        val kSubj = rows.map(_.getLong(4)).max
        val cov = covMatrix(
          rows.map(r => (r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq, t, kSubj)
        Option(UnCov.invert(cov)).map(inv => k -> (inv, t, kSubj))
      }
    val cutoffs = perKey.toSeq.map { case (k, (_, t, kSubj)) =>
      (k, UnCov.chi2Inv(cfg.cutoffPct, t), t, kSubj)
    }.toDF("__key", "cutoff", "t_slots", "k_subjects")
    val bc = spark.sparkContext.broadcast(perKey.map { case (k, (inv, t, _)) => k -> ((inv, t)) })
    val d2Udf = udf { (key: String, v: Seq[Row]) =>
      bc.value.get(key).map { case (inv, t) =>
        val r = new Array[Double](t)
        v.foreach(row => r(row.getInt(0)) = row.getDouble(1))
        UnCov.mahalanobis(r, inv)
      }
    }
    panel.groupBy("__key", "__subj")
      .agg(collect_list(struct(col("__si"), col("__r"))).as("__v"))
      .withColumn("d2", d2Udf(col("__key"), col("__v")))
      .join(broadcast(cutoffs), Seq("__key"), "left")
      .withColumn("flag_outlier",
        coalesce(col("d2") > col("cutoff"), lit(false)))
      .drop("__v")
  }
}
