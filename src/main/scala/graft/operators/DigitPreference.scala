package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{DigitPreferenceCheck, Results}
import graft.stats.Distributions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Terminal-digit-preference check — %digitpref (DigitPref.sas) re-expressed.
  *
  * Digit extraction is the reference's exact arithmetic
  * (DigitPref.sas:141,156): digit at place d = floor(v/d − 10·floor(v/(10d)));
  * a value that does not reach place d (fewer decimals than the place
  * requires) is the sentinel −1 "None" (DigitPref.sas:142,157), excluded
  * from the goodness-of-fit test but reported as a share (M12).
  *
  * Tests per (scope, panel, group):
  *   - GOF chi-square vs uniform 10% per digit 0–9, df=9 (M8,
  *     DigitPref.sas:349-355);
  *   - share of sentinel −1 (M12, :358-363).
  * Flags (M13, DigitPref.sas:378-396): gof p < alpha, or none-share >
  * noneThreshold%.
  *
  * Plan: groupBy(scope, panel, group, digit).count over the input (or the
  * fused CellScan), then ONE groupBy(scope, panel, group) that hands each
  * group's ≤ 11 sorted (digit, cnt) cells to a plain Scala kernel — the
  * reference's per-group PROC FREQ — returning the zero-filled table, the
  * tests and the top digit. That frame is cached; tests, verdicts,
  * violations and digitCounts are projections of it.
  */
object DigitPreference {

  /** Digit at decimal place `d` (1=ones, 0.1=tenths, 10=tens); −1 sentinel
    * when the value has no digit at that place (integer-recorded values at
    * a fractional place). Mirrors DigitPref.sas:133-158: decimals counted
    * on the plain string rendering with trailing zeros trimmed.
    */
  def digitAt(v: Column, d: Double): Column = {
    // epsilon guards the float truncation 0.57/0.01 → 56.999… (the SAS
    // original has the same hazard; we fix it — deviation documented)
    val eps = lit(1e-6)
    val raw = floor(v / d + eps - lit(10.0) * floor(v / (10.0 * d) + eps))
    // decimal places of v as rendered (trailing zeros trimmed):
    // cast to string; fractional part length after removing trailing zeros
    val s = format_number(abs(v), 10) // fixed 10 decimals, grouping commas
    val frac = regexp_replace(regexp_extract(s, "\\.(\\d*?)0*$", 1), ",", "")
    val numdec = length(frac)
    val placeDecimals = math.max(0, -math.floor(math.log10(d)).toInt)
    if (placeDecimals == 0) raw.cast("int")
    // the sentinel test (DecimalFormat render + two regexes per row) can
    // only fire when the raw digit is 0, so CaseWhen's lazy branch
    // evaluation keeps the string machinery off the ~90% of rows with a
    // non-zero digit — same values, ~10× less per-row formatting in the
    // fused cell scan (JFR: DecimalFormat/regex were top-20 suite frames)
    else when(raw =!= 0, raw.cast("int")).otherwise(
      when(numdec < placeDecimals, lit(-1)).otherwise(lit(0))).cast("int")
  }

  // row-level panel key is the INT code; the label is rendered on the
  // reduced counts frame (PanelBins.panelCode scaladoc has the rationale)
  private def panelCodeExpr(check: DigitPreferenceCheck) = check.dateCol match {
    case Some(dc) => PanelBins.panelCode(col(dc), check.interval)
    case None => lit(-1)
  }

  /** This check's slice of the fused multi-family cell scan (CellScan):
    * same filter + key derivations as the standalone counts pass below.
    * Panel and group ride the scan in their NATIVE types (int code / raw
    * column) — the per-row cast-to-string was ~2% of suite CPU. */
  def cellFamily(check: DigitPreferenceCheck): CellScan.Family =
    CellScan.Family(
      col(check.column).isNotNull && col(check.groupCol).isNotNull,
      check.scope.map(s => s -> col(s)) ++ Seq(
        "panel" -> panelCodeExpr(check),
        "grp" -> col(check.groupCol),
        "digit" -> digitAt(col(check.column).cast("double"), check.place)))


  /** (scope..., panel, grp, digit, cnt): the CellScan slice, else own input pass. */
  private def counts(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame]): DataFrame = pre.getOrElse {
    df.filter(col(check.column).isNotNull && col(check.groupCol).isNotNull)
      .withColumn("panel", panelCodeExpr(check))
      .withColumn("grp", col(check.groupCol))
      .withColumn("digit", digitAt(col(check.column).cast("double"), check.place))
      .groupBy((check.scope :+ "panel" :+ "grp" :+ "digit").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .trackedCache()
  }

  /** One group's digit table, zero-filled over the fixed domain −1..9
    * (DigitPref.sas:253-257): `counts(d + 1)` is digit d's count. The
    * other field names are the test frame's column names. */
  final case class GroupDigits(counts: Seq[Long], n_gof: Long, n_total: Long, n_none: Long,
      sum_sq: Double, gof_stat: Option[Double], none_pct: Double, gof_p: Double,
      top_digit: Int, top_cnt: Long)

  /** One group's GOF X² vs uniform (df=9, M8; e = n/10 so X² = Σo²·10/n − n),
    * none-share (M12) and most-preferred digit (ties → lowest). */
  private[operators] def groupKernel(cells: Seq[Row]): GroupDigits = {
    val c = new Array[Long](11)
    cells.foreach { r =>
      val d = r.getInt(0)
      if (d >= -1 && d <= 9) c(d + 1) += r.getLong(1)
    }
    val nGof = c.drop(1).sum
    val nTotal = c.sum
    val sumSq = c.drop(1).map(x => StrictMath.pow(x.toDouble, 2)).sum
    val gofStat = if (nGof > 0) Some(sumSq * 10.0 / nGof - nGof) else None
    val top = (1 to 10).foldLeft(1)((b, i) => if (c(i) > c(b)) i else b)
    GroupDigits(c.toSeq, nGof, nTotal, c(0), sumSq, gofStat, c(0) * 100.0 / nTotal,
      gofStat.map(Distributions.chiSqPValue(_, 9.0)).getOrElse(Double.NaN), top - 1, c(top))
  }

  private val kernelUdf = udf(groupKernel _)

  /** The reduced-frame tail: ONE groupBy(scope, panel, grp) of the counts,
    * then the per-group kernel. Uncached — [[kernel]] caches it. */
  private[graft] def tail(c: DataFrame, check: DigitPreferenceCheck): DataFrame = {
    val keyCols = (check.scope :+ "panel" :+ "grp").map(col)
    // scan-native keys back to the public (panel label, string group) shape
    PanelBins.renderPanelCol(c, check.interval).withColumn("grp", col("grp").cast("string"))
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(struct(col("digit").cast("int").as("digit"),
        col("cnt").cast("long").as("cnt")))).as("__d"))
      .select(keyCols :+ kernelUdf(col("__d")).as("__k"): _*)
  }

  /** Cached per-group kernel frame — every public surface projects it. */
  private[graft] def kernel(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame]): DataFrame =
    tail(counts(df, check, pre), check).trackedCache()

  /** (scope, panel, grp, digit) counts — zero-filled over the fixed digit
    * domain −1..9 (DigitPref.sas:253-257).
    * @param pre pre-aggregated (scope..., panel, grp, digit, cnt) counts
    *            from the fused CellScan — skips this check's own input scan.
    */
  def digitCounts(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = (check.scope :+ "panel" :+ "grp").map(col)
    kernel(df, check, pre)
      .select(keyCols :+ posexplode(col("__k.counts")).as(Seq("pos", "cnt")): _*)
      .select(keyCols ++ Seq((col("pos") - 1).as("digit"), col("cnt")): _*)
  }

  /** Test rows plus the most-preferred digit the violations report. */
  private def testRows(k: DataFrame, check: DigitPreferenceCheck): DataFrame =
    k.filter(col("__k.n_total") > check.minNum)
      .select((check.scope :+ "panel" :+ "grp").map(col) :+ col("__k.*"): _*).drop("counts")
      .withColumn("flag_gof", col("gof_p") < check.alpha)
      .withColumn("flag_none", col("none_pct") > check.noneThreshold)
      .withColumn("pass", !(col("flag_gof") || col("flag_none")))

  /** Per-(scope, panel, grp) test frame: GOF chi-square (digits 0-9 vs
    * uniform), none-share %, flags. */
  def tests(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame =
    testRows(kernel(df, check, pre), check).drop("top_digit", "top_cnt")

  /** (verdicts, violations) from ONE cached kernel frame. */
  private[graft] def outputs(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val t = testRows(kernel(df, check, pre), check)
    (verdictsFrom(t, check), violationRows(t.filter(!col("pass")), check))
  }

  def verdicts(df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame = outputs(df, check, pre)._1

  /** Verdicts from a prebuilt `tests` frame. */
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
      pre: Option[DataFrame] = None): DataFrame = outputs(df, check, pre)._2

  /** Violations for the failing rows of a prebuilt `tests` frame `t`. */
  def violationsFrom(t: DataFrame, df: DataFrame, check: DigitPreferenceCheck,
      pre: Option[DataFrame] = None): DataFrame = {
    val keyCols = check.scope :+ "panel" :+ "grp"
    val failing = t.filter(!col("pass"))
      .select((keyCols.map(col) :+ col("gof_p") :+ col("none_pct")): _*)
    val top = testRows(kernel(df, check, pre), check)
      .select((keyCols :+ "top_digit" :+ "top_cnt").map(col): _*)
    violationRows(NullSafeJoin(top, broadcast(failing), keyCols), check)
  }

  private def violationRows(v: DataFrame, check: DigitPreferenceCheck): DataFrame =
    Results.toViolations(v.select(
      col("grp").as("key"),
      concat_ws("/",
        (check.scope.map(s => concat_ws("=", lit(s), col(s).cast("string"))) :+
          concat(lit("panel="), col("panel"))): _*).as("partition"),
      concat(lit("digit "), col("top_digit").cast("string"), lit(" × "),
        col("top_cnt").cast("string")).as("observed"),
      lit("uniform 10% per digit").as("expected"),
      concat(lit("terminal-digit preference, gof_p="),
        round(col("gof_p"), 6).cast("string"),
        lit(", none%="), round(col("none_pct"), 2).cast("string")).as("label")), check.id)
}
