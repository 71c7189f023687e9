package graft.compile

import graft.checks._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{NumericType, StructType, TimestampType, DateType}

/** Check-compile-time validation — the reference's helper-macro semantics
  * re-expressed (helperMacros/):
  *
  *  - dataExist.sas:10      → the input/ref DataFrame must exist (caller
  *                            passes it; ref tables resolved by name);
  *  - variableExist.sas:24  → referenced columns must exist and have valid
  *                            names (regex ^[_a-zA-Z][_a-zA-Z0-9]*$);
  *  - variableExist type probes (vtype) → type requirements per role
  *    (numeric outcome/digit columns, timestamp date columns);
  *  - argumentCheck.sas:9-27 → enum parameters validated against their
  *    domain; invalid values DEFAULT with a logged warning rather than
  *    abort (the reference's goto-defaulting, univariatePlot.sas:158-191).
  *
  * `validate` returns issues; `normalize` applies the reference's
  * defaulting semantics and returns the corrected check plus warnings.
  */
object CheckCompiler {

  final case class Issue(checkId: String, kind: String, detail: String)

  private val NameRe = "^[_a-zA-Z][_a-zA-Z0-9]*$".r
  private val Intervals = Set("year", "half", "quarter", "month", "overall")

  /** Structural issues that make a check uncompilable (reference: hard
    * %put ERROR + abort paths): each referenced column must exist, be
    * validly named and carry the type its role needs. */
  def validate(schema: StructType, check: Check): List[Issue] = {
    val id = check.id
    val slotIssue = check match {
      case c: UnPanelCheck if c.slotCol.isEmpty && c.dateCol.isEmpty =>
        List(Issue(id, "missing_slot", "need slotCol or dateCol"))
      case _ => Nil
    }
    val names = schema.fieldNames.toSet
    val cols = check.referencedColumns
    val missing = cols.filterNot(names.contains)
      .map(c => Issue(id, "missing_column", c))
    val badName = cols.filter(c => NameRe.findFirstIn(c).isEmpty)
      .map(c => Issue(id, "invalid_name", c))
    val notNum = check.numericColumns.filter(names.contains).filterNot { c =>
      schema(c).dataType.isInstanceOf[NumericType]
    }.map(c => Issue(id, "not_numeric", c))
    val notTime = check.temporalColumns.filter(names.contains).filterNot { c =>
      schema(c).dataType == TimestampType || schema(c).dataType == DateType
    }.map(c => Issue(id, "not_temporal", c))
    slotIssue ++ missing ++ badName ++ notNum ++ notTime
  }

  /** Parameter defaulting with warnings — argumentCheck.sas semantics:
    * out-of-domain values fall back to the documented default instead of
    * aborting. Returns (normalized check, warnings). */
  def normalize(check: Check): (Check, List[Issue]) = {
    val w = List.newBuilder[Issue]
    def warn(kind: String, detail: String): Unit = w += Issue(check.id, kind, detail)
    val fixed: Check = check match {
      case c: CategoricalConsistencyCheck =>
        var out = c
        if (!Intervals(c.interval.toLowerCase)) {
          warn("defaulted_param", s"interval=${c.interval} → quarter"); out = out.copy(interval = "quarter")
        }
        if (c.alphaBar <= 0 || c.alphaBar >= 1) {
          warn("defaulted_param", s"alphaBar=${c.alphaBar} → 0.1"); out = out.copy(alphaBar = 0.1)
        }
        if (!Set("chisq", "fisher").contains(c.test.toLowerCase)) {
          warn("defaulted_param", s"test=${c.test} → chisq"); out = out.copy(test = "chisq")
        }
        if (out.holmPooled && !out.pairwise) {
          // documented contract: the pooled Holm family needs the pairwise
          // grid; silently ignoring the flag hides a misconfiguration
          warn("defaulted_param", "holmPooled=true requires pairwise=true → holmPooled=false")
          out = out.copy(holmPooled = false)
        }
        out
      case c: DigitPreferenceCheck =>
        var out = c
        if (!Intervals(c.interval.toLowerCase)) {
          warn("defaulted_param", s"interval=${c.interval} → overall"); out = out.copy(interval = "overall")
        }
        if (c.alpha <= 0 || c.alpha >= 1) {
          warn("defaulted_param", s"alpha=${c.alpha} → 0.01"); out = out.copy(alpha = 0.01)
        }
        if (!Set(100.0, 10.0, 1.0, 0.1, 0.01, 0.001).contains(c.place)) {
          warn("defaulted_param", s"place=${c.place} → 1.0"); out = out.copy(place = 1.0)
        }
        out
      case c: RegressionOutlierCheck =>
        // the reference's cutoff range check with goto defaulting
        // (univariatePlot.sas:158-191): cutoff outside (50, 100) → 90
        if (c.cutoffPct <= 50 || c.cutoffPct >= 100) {
          warn("defaulted_param", s"cutoffPct=${c.cutoffPct} → 90"); c.copy(cutoffPct = 90)
        } else c
      case c: LongitudinalOutlierCheck =>
        var out = c
        if (c.cutoffPct <= 50 || c.cutoffPct >= 100) {
          warn("defaulted_param", s"cutoffPct=${c.cutoffPct} → 90"); out = out.copy(cutoffPct = 90)
        }
        if (!Set("mom", "reml").contains(out.method.toLowerCase)) {
          warn("defaulted_param", s"method=${out.method} → mom"); out = out.copy(method = "mom")
        }
        if (out.randomTerms.nonEmpty && out.slopeVar.nonEmpty) {
          // the general term list subsumes the q = 2 fast path; explicit wins
          warn("defaulted_param", "slopeVar ignored: randomTerms set")
          out = out.copy(slopeVar = None)
        }
        if (out.randomTerms.size > graft.stats.RandomEffects.RemlMaxTerms &&
            out.method.equalsIgnoreCase("reml")) {
          // exact REML's driver simplex is dependable to RemlMaxTerms
          // (1 + q(q+1)/2 parameters); the MoM is the scale default
          warn("defaulted_param",
            s"method=reml capped at ${graft.stats.RandomEffects.RemlMaxTerms} randomTerms → mom")
          out = out.copy(method = "mom")
        }
        if (out.randomTerms.size > graft.stats.RandomEffects.MaxTerms) {
          warn("defaulted_param",
            s"randomTerms size ${out.randomTerms.size} > ${graft.stats.RandomEffects.MaxTerms} → truncated")
          out = out.copy(randomTerms = out.randomTerms.take(graft.stats.RandomEffects.MaxTerms))
        }
        out
      case c: GroupVarianceCheck =>
        var out = c
        if (c.alpha <= 0 || c.alpha >= 1) {
          warn("defaulted_param", s"alpha=${c.alpha} → 0.1"); out = out.copy(alpha = 0.1)
        }
        if (!Set("mom", "reml").contains(out.method.toLowerCase)) {
          warn("defaulted_param", s"method=${out.method} → mom"); out = out.copy(method = "mom")
        }
        out
      case c: UnPanelCheck =>
        var out = c
        // same goto-defaulting range as the other cutoff checks
        // (univariatePlot.sas:158-191), default at the χ² convention 99
        if (c.cutoffPct <= 50 || c.cutoffPct >= 100) {
          warn("defaulted_param", s"cutoffPct=${c.cutoffPct} → 99"); out = out.copy(cutoffPct = 99)
        }
        if (!Intervals(c.interval.toLowerCase)) {
          warn("defaulted_param", s"interval=${c.interval} → quarter"); out = out.copy(interval = "quarter")
        }
        if (c.slotCol.nonEmpty && c.dateCol.nonEmpty) {
          warn("defaulted_param", "both slotCol and dateCol set → dateCol binning wins")
          out = out.copy(slotCol = "")
        }
        out
      case c: DriftCheck =>
        var out = c
        if (!Intervals(c.interval.toLowerCase)) {
          warn("defaulted_param", s"interval=${c.interval} → quarter"); out = out.copy(interval = "quarter")
        }
        if (c.bins < 2) { warn("defaulted_param", s"bins=${c.bins} → 20"); out = out.copy(bins = 20) }
        out
      case c: NearDupCheck =>
        var out = c
        // pigeonhole needs maxHamming+1 disjoint 64-bit blocks of ≥ 8 bits
        // for useful bucket selectivity → cap at 7 blocks (Hamming ≤ 6)
        if (c.maxHamming < 0 || c.maxHamming > 6) {
          warn("defaulted_param", s"maxHamming=${c.maxHamming} → 3"); out = out.copy(maxHamming = 3)
        }
        if (c.maxDupFrac < 0 || c.maxDupFrac >= 1) {
          warn("defaulted_param", s"maxDupFrac=${c.maxDupFrac} → 0.0"); out = out.copy(maxDupFrac = 0.0)
        }
        if (c.maxBucket < 2) {
          warn("defaulted_param", s"maxBucket=${c.maxBucket} → 5000"); out = out.copy(maxBucket = 5000)
        }
        if (c.scope.nonEmpty) {
          warn("defaulted_param", "scope not supported for near-dup (pairs are corpus-global) → global")
          out = out.copy(scope = Nil)
        }
        out
      case c: ByteIdentityCheck if c.scope.nonEmpty =>
        // one digest per key is a table-wide invariant: a scope would not
        // change the verdict, only keep the check out of the KeyScan fusion
        warn("defaulted_param", "scope not supported for byte identity (the invariant is table-wide) → global")
        c.copy(scope = Nil)
      case other => other
    }
    (fixed, w.result())
  }

  /** Full compile step for a suite: normalize every check, then validate
    * against the input schema (and ref-table schemas for referential).
    * Structural issues throw (like the reference's %put ERROR + %goto
    * exit); defaulting warnings are returned.
    */
  def compile(df: DataFrame, checks: Seq[Check],
      refTables: Map[String, DataFrame] = Map.empty): (Seq[Check], List[Issue]) = {
    val normalized = checks.map(normalize)
    val warnings = normalized.flatMap(_._2).toList
    val fixed = normalized.map(_._1)
    val issues = fixed.flatMap {
      case c: ReferentialCheck =>
        val own = validate(df.schema, c)
        val refIssues = refTables.get(c.refTable) match {
          case None => List(Issue(c.id, "missing_ref_table", c.refTable))
          case Some(ref) if !ref.schema.fieldNames.contains(c.refColumn) =>
            List(Issue(c.id, "missing_ref_column", s"${c.refTable}.${c.refColumn}"))
          case _ => Nil
        }
        own ++ refIssues
      case c => validate(df.schema, c)
    }.toList
    if (issues.nonEmpty)
      throw new IllegalArgumentException(
        "check compilation failed:\n" + issues.map(i => s"  [${i.checkId}] ${i.kind}: ${i.detail}").mkString("\n"))
    (fixed, warnings)
  }
}
