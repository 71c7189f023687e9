package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{DriftCheck, Results}
import graft.stats.{Distributions, Holm}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Numeric distribution-drift check across time windows (north rule) —
  * the numeric generalization of CategoricalConsistency: per calendar
  * window of `dateCol`, an equal-width histogram of `column`; each window
  * tested against the pooled rest with chi-square (binned) and a KS
  * statistic from the cumulative histograms.
  *
  * Plan: one tiny global agg (min/max for bin edges), then ONE
  * groupBy(scope, window, bin).count shuffle (or the fused CellScan); then
  * ONE groupBy(scope) hands each scope's sorted (window, bin, cnt) cells —
  * windows × bins, tiny at any input scale — to a plain Scala kernel that
  * zero-fills, tests and Holm-adjusts. That frame is cached; histogram,
  * tests, verdicts and violations are projections of it.
  */
object Drift {

  /** Drift checks' bin edges (min + bin width per check) in ONE pass: a
    * single agg(min,max per column) over the input instead of one full
    * scan per check — with d drift checks in a suite, d + 1 scans become 2
    * (this + the fused CellScan). Per-column null/NaN exclusion is folded
    * into the aggregate (min/max skip nulls; NaN is mapped to null so it
    * can't poison max, which in Spark's ordering treats NaN as the largest
    * double). Returns ONE 1-row frame with (mnName, wName) per check, named
    * by the caller so several checks ride one adorned scan base. Lazy —
    * meant to be crossJoin(broadcast(_))-ed, never collected (a driver
    * collect here would run a blocking full scan at plan-build time). */
  def edgesMulti(df: DataFrame,
      checks: Seq[(DriftCheck, String, String)]): DataFrame = {
    val aggs = checks.zipWithIndex.flatMap { case ((c, mnName, _), i) =>
      val v0 = col(c.column).cast("double")
      val v = when(!isnan(v0), v0)
      Seq(min(v).as(mnName), max(v).as(s"__mx_$i"))
    }
    df.agg(aggs.head, aggs.tail: _*).select(
      checks.zipWithIndex.flatMap { case ((c, mnName, wName), i) =>
        Seq(col(mnName),
          when(col(s"__mx_$i") > col(mnName),
            (col(s"__mx_$i") - col(mnName)) / c.bins).otherwise(1.0).as(wName))
      }: _*)
  }

  /** Bin index from broadcast edge columns. */
  private def binExpr(check: DriftCheck, v: Column, mn: Column, w: Column): Column =
    least(greatest(floor((v - mn) / w), lit(0.0)),
      lit((check.bins - 1).toDouble)).cast("int")

  /** This check's slice of the fused multi-family cell scan (CellScan).
    * The scan base must carry this check's broadcast edge columns
    * (crossJoin(broadcast(edgesMulti(df, Seq((check, mnName, wName)))))). */
  def cellFamily(check: DriftCheck, mnName: String, wName: String): CellScan.Family = {
    val v = col(check.column).cast("double")
    CellScan.Family(
      v.isNotNull && !isnan(v),
      check.scope.map(s => s -> col(s)) ++ Seq(
        // INT panel code at row level; the label is rendered on the reduced
        // histogram frame (PanelBins.panelCode scaladoc has the rationale)
        "panel" -> PanelBins.panelCode(col(check.dateCol), check.interval),
        "bin" -> binExpr(check, v, col(mnName), col(wName))))
  }


  /** (scope..., panel, bin, cnt): the CellScan slice, else own input pass. */
  private def counts(df: DataFrame, check: DriftCheck, pre: Option[DataFrame]): DataFrame =
    pre.getOrElse {
      val v = col(check.column).cast("double")
      df.filter(v.isNotNull && !isnan(v))
        .crossJoin(broadcast(edgesMulti(df, Seq((check, "__mn", "__w")))))
        .withColumn("panel", PanelBins.panelCode(col(check.dateCol), check.interval))
        .withColumn("bin", binExpr(check, v, col("__mn"), col("__w")))
        .groupBy((check.scope :+ "panel" :+ "bin").map(col): _*)
        .agg(count(lit(1)).as("cnt"))
    }

  // field names are the histogram / tests column names
  final case class Cell(panel: String, bin: Int, cnt: Long)
  final case class WindowTest(panel: String, stat: Double, df: Double, ks: Double,
      n_panel: Long, n_rest: Long, p_raw: Double, p_holm: Double)
  final case class ScopeResult(histogram: Seq[Cell], tests: Seq[WindowTest])

  /** One scope's (panel, bin, cnt) cells, sorted by panel → each window's
    * histogram zero-filled over the bin domain (an empty bin still adds its
    * (0−e)²/e term, KS mass and df slot), chi-square and KS against the
    * pooled rest, Holm across the scope's windows. */
  private[operators] def scopeKernel(cells: Seq[Row], bins: Int): ScopeResult = {
    // consecutive runs of one panel (null panels — null dates — form their own)
    val panels = cells.foldLeft(Vector.empty[(String, Array[Long])]) { (acc, r) =>
      val p = r.getString(0)
      val acc2 = if (acc.nonEmpty && acc.last._1 == p) acc else acc :+ (p -> new Array[Long](bins))
      val b = r.getInt(1)
      if (b >= 0 && b < bins) acc2.last._2(b) += r.getLong(2)
      acc2
    }
    val binTotal = Array.tabulate(bins)(b => panels.map(_._2(b)).sum)
    val grand = binTotal.sum
    val df = binTotal.count(_ > 0) - 1.0
    def x2(o: Double, e: Double) = if (e > 0) StrictMath.pow(o - e, 2) / e else 0.0
    val raw = panels.flatMap { case (p, h) =>
      val nPanel = h.sum
      val (n1, n2) = (nPanel.toDouble, (grand - nPanel).toDouble)
      if (grand - nPanel <= 0 || df < 1) None
      else {
        val stat = (0 until bins).map(b =>
          x2(h(b).toDouble, n1 * binTotal(b) / grand) +
            x2((binTotal(b) - h(b)).toDouble, n2 * binTotal(b) / grand)).sum
        // KS: largest gap between the cumulative shares, in bin order
        val (_, _, ks) = (0 until bins).foldLeft((0.0, 0.0, 0.0)) { case ((c1, c2, mx), b) =>
          val (d1, d2) = (c1 + h(b), c2 + (binTotal(b) - h(b)))
          (d1, d2, math.max(mx, math.abs(d1 / n1 - d2 / n2)))
        }
        Some(WindowTest(p, stat, df, ks, nPanel, grand - nPanel,
          Distributions.chiSqPValue(stat, df), 0.0))
      }
    }
    val holm = Holm.adjust(raw.map(_.p_raw))
    ScopeResult(
      for ((p, h) <- panels; b <- 0 until bins) yield Cell(p, b, h(b)),
      raw.indices.map(i => raw(i).copy(p_holm = holm(i))))
  }

  private val kernelUdf = udf(scopeKernel _)

  /** The reduced-frame tail: ONE groupBy(scope) of the window × bin
    * counts, then the per-scope kernel. Uncached — [[kernel]] caches it. */
  private[graft] def tail(c: DataFrame, check: DriftCheck): DataFrame =
    PanelBins.renderPanelCol(c, check.interval)
      .groupBy(check.scope.map(col): _*)
      .agg(sort_array(collect_list(struct(col("panel"), col("bin").cast("int").as("bin"),
        col("cnt").cast("long").as("cnt")))).as("__h"))
      .select(check.scope.map(col) :+ kernelUdf(col("__h"), lit(check.bins)).as("__k"): _*)

  /** Cached per-scope kernel frame — histogram and tests project it. */
  private[graft] def kernel(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame]): DataFrame =
    tail(counts(df, check, pre), check).trackedCache()

  /** Histogram cells (scope..., panel, bin, cnt), zero-filled over the bin
    * domain of every window.
    * @param pre pre-aggregated (scope..., panel, bin, cnt) counts from the
    *            fused CellScan — skips this check's own input scan. */
  def histogram(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame =
    kernel(df, check, pre)
      .select(check.scope.map(col) :+ explode(col("__k.histogram")).as("h"): _*)
      .select(check.scope.map(col) :+ col("h.*"): _*)

  /** Per-(scope, panel) drift tests vs pooled rest, Holm within scope. */
  def tests(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame] = None): DataFrame =
    kernel(df, check, pre)
      .select(check.scope.map(col) :+ explode(col("__k.tests")).as("t"): _*)
      .select(check.scope.map(col) :+ col("t.*"): _*)
      .withColumn("flag_chisq", col("p_holm") < check.alpha)
      .withColumn("flag_ks", col("ks") > check.ksThreshold)
      .withColumn("pass", !(col("flag_chisq") || col("flag_ks")))

  /** (verdicts, violations) from ONE cached kernel frame. */
  def outputs(df: DataFrame, check: DriftCheck,
      pre: Option[DataFrame]): (DataFrame, DataFrame) = {
    val t = tests(df, check, pre)
    (verdictsFrom(t, check), violationsFrom(t, check))
  }

  /** Verdicts from a prebuilt `tests` frame. */
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
