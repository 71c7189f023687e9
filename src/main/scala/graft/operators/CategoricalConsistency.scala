package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{CategoricalConsistencyCheck, Results}
import graft.stats.{Distributions, Holm}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Categorical-consistency / drift check — %catchk re-expressed.
  *
  * Reference (Categorical_Check.sas) runs one PROC FREQ **per (panel, bar)**
  * one-vs-rest table (:289-307) and one per pairwise (i,j) (:368-419) —
  * O(k²) full re-scans — then one PROC MULTTEST per panel (:435-466). Here
  * the whole check is ONE row-level shuffle plus ONE shuffle of the
  * reduced counts:
  *
  *   scan → panel bin (F2) → groupBy(scope, panel, grp, value).count [shuffle 1]
  *   → groupBy(scope, panel): sort_array(collect_list(cell))          [shuffle 2]
  *   → per-panel kernel (plain Scala): zero-filled grp × value table,
  *     one-vs-rest chi-square / Freeman–Halton Fisher, pairwise grid,
  *     Holm within panel (separate or pooled), the `_All_` bar margins
  *     and each group's worst-deviating category
  *   → cached; every surface below is a projection of that frame.
  *
  * Each panel's array is the reference's own per-panel PROC FREQ table —
  * groups × categories cells. The pairwise grid adds one tiny aggregate:
  * its missing-pair rows span every group that qualifies in ANY panel
  * (:402-416), a global domain broadcast into the kernel.
  */
object CategoricalConsistency {

  // row-level panel key is the INT code; the label is rendered on the
  // reduced frame (PanelBins.panelCode scaladoc has the rationale)
  private def panelCodeExpr(check: CategoricalConsistencyCheck) = check.dateCol match {
    case Some(dc) => PanelBins.panelCode(col(dc), check.interval)
    case None => lit(-1)
  }

  /** This check's slice of the fused multi-family cell scan (CellScan):
    * same filter + key derivations as the standalone counts pass below. */
  def cellFamily(check: CategoricalConsistencyCheck): CellScan.Family =
    CellScan.Family(
      col(check.valueCol).isNotNull && col(check.groupCol).isNotNull,
      check.scope.map(s => s -> col(s)) ++ Seq(
        "panel" -> panelCodeExpr(check),
        "grp" -> col(check.groupCol),
        "value" -> col(check.valueCol)))

  /** (scope..., panel, grp, value, cnt): the CellScan slice, else own input pass. */
  private def counts(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame]): DataFrame = pre.getOrElse {
    val keyCols = check.scope :+ "panel"
    df.filter(col(check.valueCol).isNotNull && col(check.groupCol).isNotNull)
      .withColumn("panel", panelCodeExpr(check))
      .groupBy((keyCols :+ check.groupCol :+ check.valueCol).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumnRenamed(check.groupCol, "grp")
      .withColumnRenamed(check.valueCol, "value")
      .trackedCache()
  }

  // Kernel result rows, fields named like the output columns. Group /
  // value / pair members are 1-based indices into the panel's Spark-sorted
  // `__grps` / `__vals` arrays (pairs: into the global `__dom`), so
  // ordering and equality stay Spark's own.
  final case class Cell(g: Int, v: Int, cnt: Long)
  final case class OneVsRest(g: Int, stat: Double, df: Double, n_grp: Long, n_panel: Long,
      p_raw: Double, test_used: String, p_holm: Double, p_pool: Double,
      worst_v: Int, worst_cnt: Long)
  final case class Pair(g1: Int, g2: Int, stat: Option[Double], df: Option[Double],
      n1: Long, n2: Long, p_raw: Double, test_used: String, p_holm: Double, p_pool: Double)
  final case class PanelResult(cells: Seq[Cell], grp_total: Seq[Long], value_total: Seq[Long],
      total: Long, ovr: Seq[OneVsRest], pairs: Seq[Pair])

  /** One panel's tests from its (grp index, value index, cnt) cells.
    * `dom(g)` is group g's 1-based position in the global pairwise domain
    * of size `nDom` (0 = no pairwise grid). Arithmetic mirrors the SQL
    * expressions it replaced operation for operation (long products,
    * StrictMath.pow) so stats agree with the reference to the last ulps. */
  private[operators] def panelKernel(gi: Seq[Int], vi: Seq[Int], cnt: Seq[Long],
      nG: Int, nV: Int, dom: Seq[Int], nDom: Int, minNum: Long,
      fisher: Boolean): PanelResult = {
    val m = new Array[Long](nG * nV)
    gi.indices.foreach(i => m((gi(i) - 1) * nV + vi(i) - 1) += cnt(i))
    def at(g: Int, v: Int) = m(g * nV + v)
    val gt = Array.tabulate(nG)(g => (0 until nV).map(at(g, _)).sum)
    val pvt = Array.tabulate(nV)(v => (0 until nG).map(at(_, v)).sum)
    val n = gt.sum
    def x2(o: Double, e: Double) = if (e > 0) StrictMath.pow(o - e, 2) / e else 0.0
    // fisher runs the Freeman–Halton network algorithm on the full 2×C
    // table (PROC FREQ's exact test, Categorical_Check.sas:298,305); past
    // the enumeration budget it falls back to chi-square, FLAGGED so the
    // verdict row is honest about the substitution (SURVEY §7.6.2)
    def pTest(stat: Double, df: Double, r1: Seq[Long], r2: Seq[Long]): (Double, String) =
      if (!fisher) (Distributions.chiSqPValue(stat, df), "chisq")
      else Distributions.fisherExact2xC(r1.toArray, r2.toArray) match {
        case Some(p) => (p, "fisher")
        case None => (Distributions.chiSqPValue(stat, df), "chisq_fallback")
      }
    // one-vs-rest 2×C per group; a single-group panel has no "rest"
    val ovr0 = (0 until nG).filter(g => gt(g) > minNum && nV >= 2 && n > gt(g)).map { g =>
      val vs = 0 until nV
      val stat = vs.map { v =>
        val c = at(g, v)
        x2(c.toDouble, (gt(g) * pvt(v)).toDouble / n) +
          x2((pvt(v) - c).toDouble, ((n - gt(g)) * pvt(v)).toDouble / n)
      }.sum
      val (p, used) = pTest(stat, nV - 1.0, vs.map(at(g, _)), vs.map(v => pvt(v) - at(g, v)))
      // worst-deviating category: largest |row% − overall%|, ties → first value
      val dev = vs.map(v => if (gt(g) > 0 && pvt(v) > 0)
        math.abs(at(g, v).toDouble / gt(g) - pvt(v).toDouble / n) else 0.0)
      val w = vs.foldLeft(0)((b, v) => if (dev(v) > dev(b)) v else b)
      OneVsRest(g + 1, stat, nV - 1.0, gt(g), n, p, used, 0.0, 0.0, w + 1, at(g, w))
    }
    // pairwise grid over the GLOBAL domain: untestable / absent pairs keep
    // p=1 rows in the Holm family (:402-416)
    val local = Array.fill(nDom)(-1)
    if (nDom > 0) (0 until nG).filter(gt(_) > minNum).foreach(g => local(dom(g) - 1) = g)
    val pairs0 =
      if (!local.exists(_ >= 0)) Seq.empty
      else for (i <- 0 until nDom; j <- i + 1 until nDom) yield {
        val (a, b) = (local(i), local(j))
        if (a < 0 || b < 0) Pair(i + 1, j + 1, None, None, 0L, 0L, 1.0, "missing_pair", 0.0, 0.0)
        else {
          val (n1, n2) = (gt(a), gt(b))
          val nn = (n1 + n2).toDouble
          val live = (0 until nV).filter(v => at(a, v) + at(b, v) > 0)
          val stat = (0 until nV).map { v =>
            val rv = (at(a, v) + at(b, v)).toDouble
            x2(at(a, v).toDouble, n1 * rv / nn) + x2(at(b, v).toDouble, n2 * rv / nn)
          }.sum
          val df = live.size - 1.0
          val (p, used) =
            if (df < 1) (1.0, "missing_pair")
            else pTest(stat, df, live.map(at(a, _)), live.map(at(b, _)))
          Pair(i + 1, j + 1, Some(stat), Some(df), n1, n2, p, used, 0.0, 0.0)
        }
      }
    val hO = Holm.adjust(ovr0.map(_.p_raw))
    val hP = Holm.adjust(pairs0.map(_.p_raw))
    val pooled = Holm.adjust(ovr0.map(_.p_raw) ++ pairs0.map(_.p_raw))
    PanelResult(
      for (g <- 0 until nG; v <- 0 until nV) yield Cell(g + 1, v + 1, at(g, v)),
      gt.toSeq, pvt.toSeq, n,
      ovr0.indices.map(i => ovr0(i).copy(p_holm = hO(i), p_pool = pooled(i))),
      pairs0.indices.map(i => pairs0(i).copy(p_holm = hP(i), p_pool = pooled(ovr0.size + i))))
  }

  private val kernelUdf = udf(panelKernel _)

  /** Global pairwise domain: every group with more than `minNum` rows in
    * some panel, Spark-sorted. One row, broadcast into the kernel. */
  private def pairDomain(c: DataFrame, check: CategoricalConsistencyCheck): DataFrame =
    PanelBins.renderPanelCol(c, check.interval).groupBy((check.scope :+ "panel" :+ "grp").map(col): _*)
      .agg(sum(col("cnt")).as("gt"))
      .filter(col("gt") > check.minNum)
      .agg(sort_array(collect_set(col("grp"))).as("__dom"))

  /** The reduced-frame tail: ONE groupBy(scope, panel) of the counts, then
    * the per-panel kernel. Uncached — [[kernel]] caches it. */
  private[graft] def tail(c: DataFrame, check: CategoricalConsistencyCheck,
      withPairs: Boolean): DataFrame = {
    val keyCols = (check.scope :+ "panel").map(col)
    val grouped = PanelBins.renderPanelCol(c, check.interval).groupBy(keyCols: _*)
      .agg(sort_array(collect_list(
      struct(col("grp"), col("value"), col("cnt").cast("long").as("cnt")))).as("__cells"))
    val withDom = if (withPairs) grouped.crossJoin(broadcast(pairDomain(c, check))) else grouped
    val cs = col("__cells")
    val (dom, nDom) =
      if (withPairs) (transform(col("__grps"), g => array_position(col("__dom"), g).cast("int")),
        size(col("__dom")))
      else (array().cast("array<int>"), lit(0))
    withDom
      .withColumn("__grps", array_distinct(transform(cs, _.getField("grp"))))
      .withColumn("__vals", array_sort(array_distinct(transform(cs, _.getField("value")))))
      .withColumn("__k", kernelUdf(
        transform(cs, x => array_position(col("__grps"), x.getField("grp")).cast("int")),
        transform(cs, x => array_position(col("__vals"), x.getField("value")).cast("int")),
        transform(cs, _.getField("cnt")),
        size(col("__grps")), size(col("__vals")), dom, nDom,
        lit(check.minNum), lit(check.test.equalsIgnoreCase("fisher"))))
      .drop("__cells")
  }

  /** Cached per-panel kernel frame — every public surface projects it. */
  private[graft] def kernel(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame], withPairs: Boolean): DataFrame =
    tail(counts(df, check, pre), check, withPairs).trackedCache()

  private def keyCols(check: CategoricalConsistencyCheck): Seq[Column] =
    (check.scope :+ "panel").map(col)

  /** One-vs-rest rows (with the worst-category fields) under the chosen
    * Holm family: `p_holm` (within one-vs-rest) or `p_pool` (pooled). */
  private def ovrRows(k: DataFrame, check: CategoricalConsistencyCheck, p: String): DataFrame =
    k.select(keyCols(check) ++ Seq(col("__grps"), col("__vals"),
        col("__k.value_total").as("__vt"), explode(col("__k.ovr")).as("o")): _*)
      .select(keyCols(check) ++ (element_at(col("__grps"), col("o.g")).as("grp") +:
        Seq("stat", "df", "n_grp", "n_panel", "p_raw", "test_used").map(f => col(s"o.$f"))) ++ Seq(
        col(s"o.$p").as("p_holm"),
        element_at(col("__vals"), col("o.worst_v")).as("worst"), col("o.worst_cnt"),
        element_at(col("__vt"), col("o.worst_v")).as("worst_total")): _*)

  private def testCols(k: DataFrame, check: CategoricalConsistencyCheck, p: String) =
    ovrRows(k, check, p).drop("worst", "worst_cnt", "worst_total")

  private def pairRows(k: DataFrame, check: CategoricalConsistencyCheck, p: String): DataFrame =
    k.select(keyCols(check) :+ col("__dom") :+ explode(col("__k.pairs")).as("q"): _*)
      .select(keyCols(check) ++ Seq(
        element_at(col("__dom"), col("q.g1")).as("grp1"),
        element_at(col("__dom"), col("q.g2")).as("grp2")) ++
        Seq("stat", "df", "n1", "n2", "p_raw", "test_used").map(f => col(s"q.$f")) :+
        col(s"q.$p").as("p_holm"): _*)

  /** Contingency cells with one-vs-rest margins, zero-filled.
    * Output grain: (scopeCols..., panel, grp, value) with cnt, grp_total,
    * panel_value_total, panel_total.
    * @param pre pre-aggregated (scope..., panel, grp, value, cnt) counts
    *            from the fused CellScan — skips this check's own input scan.
    */
  def cells(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    kernel(df, check, pre, check.pairwise)
      .select(keyCols(check) ++ Seq(col("__grps"), col("__vals"), col("__k"),
        explode(col("__k.cells")).as("c")): _*)
      .select(keyCols(check) ++ Seq(
        element_at(col("__grps"), col("c.g")).as("grp"),
        element_at(col("__vals"), col("c.v")).as("value"),
        col("c.cnt").as("cnt"),
        element_at(col("__k.grp_total"), col("c.g")).as("grp_total"),
        element_at(col("__k.value_total"), col("c.v")).as("panel_value_total"),
        col("__k.total").as("panel_total")): _*)

  /** Per-(panel, grp) one-vs-rest test results: chi-square / Freeman–Halton
    * Fisher on the full table, raw p, Holm-adjusted p within panel. */
  def tests(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    testCols(kernel(df, check, pre, check.pairwise), check, "p_holm")

  /** Pairwise (i<j) group-vs-group tests — the reference's heat-map grid
    * (Categorical_Check.sas:368-419): one chi-square/Fisher per group pair
    * per panel over the values × {gᵢ, gⱼ} table, untestable/missing pairs
    * fall back to p=1 (:402-416), Holm within panel across all pairs.
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
    pairRows(kernel(df, check, pre, withPairs = true), check, "p_holm")

  /** The reference's EXACT multtest family: one-vs-rest ('Stacked') and
    * pairwise ('Heat') p-values POOLED into one Holm step-down per panel
    * (Categorical_Check.sas:435-466), then split back. Returns
    * (oneVsRest, pairwise) frames with the pooled `p_holm` and string
    * group ids. */
  def pooledTests(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val k = kernel(df, check, pre, withPairs = true)
    (testCols(k, check, "p_pool").withColumn("grp", col("grp").cast("string")),
      pairRows(k, check, "p_pool").withColumn("grp1", col("grp1").cast("string"))
        .withColumn("grp2", col("grp2").cast("string")))
  }

  /** The reference's `_All_` overall bar (Categorical_Check.sas:317-340):
    * per panel, the all-groups-combined distribution of `valueCol` with
    * row percents. Rides the cached kernel frame — no extra input scan. */
  def overallBar(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    kernel(df, check, pre, check.pairwise)
      .select(keyCols(check) ++ Seq(col("__vals"), col("__k.total").as("panel_total"),
        posexplode(col("__k.value_total")).as(Seq("pos", "cnt"))): _*)
      .select(keyCols(check) ++ Seq(
        lit("_All_").as("grp"),
        element_at(col("__vals"), col("pos") + 1).as("value"),
        col("cnt"),
        (col("cnt") * 100.0 / col("panel_total")).as("row_pct"),
        col("panel_total")): _*)

  private def partition(check: CategoricalConsistencyCheck, last: Column*): Column =
    concat_ws("/", (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) ++
      (concat(lit("panel="), col("panel")) +: last)): _*).as("partition")

  private def framedVerdicts(t: DataFrame, check: CategoricalConsistencyCheck): DataFrame =
    t.select(
      partition(check, concat(lit("grp="), col("grp").cast("string"))),
      concat(col("test_used"), lit("_one_vs_rest")).as("metric"),
      col("stat"),
      col("p_holm").as("p_value"),
      lit(check.alphaBar).as("threshold"),
      col("n_grp").cast("long").as("n_obs"),
      (col("p_holm") >= check.alphaBar).as("pass"))

  /** The `_All_` bar as one informational verdict row per panel carrying
    * the all-groups-combined n (:317-340). */
  private def overallVerdicts(k: DataFrame, check: CategoricalConsistencyCheck): DataFrame =
    k.select(
      partition(check, lit("grp=_All_")),
      lit("overall_bar").as("metric"),
      lit(null).cast("double").as("stat"),
      lit(null).cast("double").as("p_value"),
      lit(check.alphaBar).as("threshold"),
      col("__k.total").as("n_obs"),
      lit(true).as("pass"))

  private def pairVerdicts(pt: DataFrame, check: CategoricalConsistencyCheck): DataFrame =
    pt.select(
      partition(check, concat(lit("pair="), col("grp1").cast("string"),
        lit("|"), col("grp2").cast("string"))),
      concat(col("test_used"), lit("_pairwise")).as("metric"),
      col("stat"),
      col("p_holm").as("p_value"),
      lit(check.alphaBar).as("threshold"),
      (col("n1") + col("n2")).cast("long").as("n_obs"),
      (col("p_holm") >= check.alphaBar).as("pass"))

  private def violationRows(w: DataFrame, check: CategoricalConsistencyCheck): DataFrame =
    Results.toViolations(w.select(
      col("grp").cast("string").as("key"),
      partition(check),
      concat(col("worst"), lit(" @ "),
        round(col("worst_cnt") * 100.0 / col("n_grp"), 2).cast("string"), lit("%")).as("observed"),
      concat(col("worst"), lit(" @ "),
        round(col("worst_total") * 100.0 / col("n_panel"), 2).cast("string"), lit("%")).as("expected"),
      concat(lit("inconsistent "), lit(check.valueCol), lit(" distribution, p_holm="),
        round(col("p_holm"), 6).cast("string")).as("label")), check.id)

  /** (verdicts, violations) from ONE cached kernel frame — the Runner's
    * entry. holmPooled (with pairwise) reads the reference's exact pooled
    * multtest family (:435-466); otherwise each surface is adjusted within
    * its own family. */
  private[graft] def outputs(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val k = kernel(df, check, pre, check.pairwise)
    val p = if (check.pairwise && check.holmPooled) "p_pool" else "p_holm"
    val ovr = ovrRows(k, check, p)
    (verdictRows(ovr, k, if (check.pairwise) Some(pairRows(k, check, p)) else None, check),
      violationRows(ovr.filter(col("p_holm") < check.alphaBar), check))
  }

  private def verdictRows(t: DataFrame, k: DataFrame, pairT: Option[DataFrame],
      check: CategoricalConsistencyCheck): DataFrame =
    Results.toVerdicts((Seq(framedVerdicts(t, check), overallVerdicts(k, check)) ++
      pairT.map(pairVerdicts(_, check))).reduce(_ unionByName _), check.id, check.severity)

  def verdicts(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = outputs(df, check, pre)._1

  /** Verdicts from prebuilt one-vs-rest / pairwise test frames. */
  def verdictsFrom(t: DataFrame, pairT: Option[DataFrame], df: DataFrame,
      check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame =
    verdictRows(t, kernel(df, check, pre, check.pairwise), pairT, check)

  /** Violation rows: for every failing (panel, grp), its worst-deviating
    * category with observed vs expected row-percent. */
  def violations(df: DataFrame, check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = outputs(df, check, pre)._2

  /** Violations for the failing rows of a prebuilt test frame `base`. */
  def violationsFrom(base: DataFrame, df: DataFrame,
      check: CategoricalConsistencyCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keys = check.scope :+ "panel" :+ "grp"
    val failing = base.filter(col("p_holm") < check.alphaBar)
      .select(keys.map(col) :+ col("p_holm"): _*)
    val worst = ovrRows(kernel(df, check, pre, check.pairwise), check, "p_holm").drop("p_holm")
    violationRows(NullSafeJoin(worst, broadcast(failing), keys), check)
  }
}
