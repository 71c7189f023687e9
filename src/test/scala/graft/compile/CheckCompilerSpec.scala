package graft.compile

import graft.SparkSpec
import graft.checks._

/** Compile-time validation semantics (helperMacros parity):
  * missing/misnamed/mistyped columns abort; out-of-domain parameters
  * default with a warning (argumentCheck.sas goto-defaulting). */
class CheckCompilerSpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq((1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    .toDF("id", "grp", "v", "ts")

  test("missing column aborts compilation (variableExist.sas:28)") {
    val e = intercept[IllegalArgumentException] {
      CheckCompiler.compile(df, Seq(ColumnStatsCheck("cs", "nope")))
    }
    assert(e.getMessage.contains("missing_column"))
  }

  test("type requirements: digit column must be numeric, date column temporal") {
    val issues = CheckCompiler.validate(df.schema,
      DigitPreferenceCheck("dp", "grp", groupCol = "id", dateCol = Some("v")))
    assert(issues.exists(i => i.kind == "not_numeric" && i.detail == "grp"))
    assert(issues.exists(i => i.kind == "not_temporal" && i.detail == "v"))
  }

  test("referential check requires the ref table and column") {
    val e = intercept[IllegalArgumentException] {
      CheckCompiler.compile(df, Seq(ReferentialCheck("r", "grp", "dims", "g")))
    }
    assert(e.getMessage.contains("missing_ref_table"))
    val e2 = intercept[IllegalArgumentException] {
      CheckCompiler.compile(df, Seq(ReferentialCheck("r", "grp", "dims", "nope")),
        Map("dims" -> Seq("x").toDF("g")))
    }
    assert(e2.getMessage.contains("missing_ref_column"))
  }

  test("out-of-domain parameters default with warnings (argumentCheck.sas:9-27)") {
    val (fixed, warnings) = CheckCompiler.compile(df, Seq(
      CategoricalConsistencyCheck("cc", "grp", "id", interval = "fortnight",
        alphaBar = 7.0, test = "anova"),
      RegressionOutlierCheck("ro", "v", "id", cutoffPct = 400)))
    val cc = fixed.collectFirst { case c: CategoricalConsistencyCheck => c }.get
    assert(cc.interval == "quarter" && cc.alphaBar == 0.1 && cc.test == "chisq")
    val ro = fixed.collectFirst { case c: RegressionOutlierCheck => c }.get
    assert(ro.cutoffPct == 90)
    assert(warnings.count(_.kind == "defaulted_param") == 4)
  }

  test("variance-component method + pooled-Holm prerequisites default with warnings") {
    val (fixed, warnings) = CheckCompiler.compile(df, Seq(
      GroupVarianceCheck("gv", "v", "grp", method = "remml"),
      LongitudinalOutlierCheck("lo", "v", "id", method = "ml"),
      CategoricalConsistencyCheck("cp", "grp", "id",
        pairwise = false, holmPooled = true)))
    val gv = fixed.collectFirst { case c: GroupVarianceCheck => c }.get
    assert(gv.method == "mom")
    val lo = fixed.collectFirst { case c: LongitudinalOutlierCheck => c }.get
    assert(lo.method == "mom")
    val cp = fixed.collectFirst { case c: CategoricalConsistencyCheck => c }.get
    assert(!cp.holmPooled, "holmPooled without pairwise must default off")
    assert(warnings.count(_.kind == "defaulted_param") == 3)
    // valid configurations pass through untouched, no warnings
    val (ok, w2) = CheckCompiler.compile(df, Seq(
      GroupVarianceCheck("gv2", "v", "grp", method = "REML"),
      CategoricalConsistencyCheck("cp2", "grp", "id",
        pairwise = true, holmPooled = true)))
    assert(ok.collectFirst { case c: GroupVarianceCheck => c }.get.method == "REML")
    assert(ok.collectFirst { case c: CategoricalConsistencyCheck => c }.get.holmPooled)
    assert(w2.isEmpty)
  }

  test("referencedColumns covers every column each check family reads (cache-prune safety)") {
    // the Runner prunes the cached input to referencedColumns — a column a
    // check reads but does not declare would throw at run time; each
    // family's check here references every column role it supports
    val checks: Seq[Check] = Seq(
      ColumnStatsCheck("cs", "v", scope = Seq("grp")),
      UniquenessCheck("u", Seq("id"), scope = Seq("grp")),
      ReferentialCheck("r", "grp", "dim", "grp", scope = Seq("id")),
      CategoricalConsistencyCheck("cc", "grp", "id", dateCol = Some("ts"), scope = Seq("v")),
      DigitPreferenceCheck("dp", "v", groupCol = "grp", dateCol = Some("ts"), scope = Seq("id")),
      GroupVarianceCheck("gv", "v", "grp", discCovariates = Seq("id"), scope = Seq("ts")),
      RegressionOutlierCheck("ro", "v", "id", contCovariates = Seq("v"), scope = Seq("grp")),
      LongitudinalOutlierCheck("lo", "v", "id", discCovariates = Seq("grp"),
        randomTerms = Seq("ts"), slopeVar = Some("grp")),
      UnPanelCheck("up", "v", "id", slotCol = "grp", dateCol = Some("ts"), scope = Seq("cat")),
      DriftCheck("dr", "v", "ts", scope = Seq("grp")),
      ByteIdentityCheck("bi", "id", "grp"),
      NearDupCheck("nd", idCol = "id", textCol = "grp"))
    checks.foreach { c =>
      val refd = c.referencedColumns.toSet
      val declared: Set[String] = c match {
        case x: ColumnStatsCheck => Set(x.column) ++ x.scope
        case x: UniquenessCheck => x.keys.toSet ++ x.scope
        case x: ReferentialCheck => Set(x.column) ++ x.scope
        case x: CategoricalConsistencyCheck =>
          Set(x.valueCol, x.groupCol) ++ x.scope ++ x.dateCol
        case x: DigitPreferenceCheck => Set(x.column, x.groupCol) ++ x.scope ++ x.dateCol
        case x: GroupVarianceCheck =>
          Set(x.outcome, x.groupCol) ++ x.discCovariates ++ x.contCovariates ++ x.scope
        case x: RegressionOutlierCheck =>
          Set(x.outcome, x.idCol) ++ x.discCovariates ++ x.contCovariates ++ x.scope
        case x: LongitudinalOutlierCheck =>
          Set(x.outcome, x.idCol) ++ x.discCovariates ++ x.contCovariates ++ x.scope ++
            x.randomTerms ++ x.slopeVar
        case x: UnPanelCheck => Set(x.outcome, x.idCol, x.slotCol) ++ x.dateCol ++ x.scope
        case x: DriftCheck => Set(x.column, x.dateCol) ++ x.scope
        case x: ByteIdentityCheck => Set(x.keyCol, x.column)
        case x: NearDupCheck => Set(x.idCol, x.textCol)
      }
      assert(declared.subsetOf(refd), s"${c.id}: ${declared -- refd} missing from referencedColumns")
    }
  }

  test("near-dup parameters default with warnings; scope normalizes to global") {
    val (fixed, warnings) = CheckCompiler.compile(df, Seq(
      NearDupCheck("nd", idCol = "id", textCol = "grp",
        maxHamming = 12, maxDupFrac = 2.0, maxBucket = 0, scope = Seq("grp"))))
    val nd = fixed.collectFirst { case c: NearDupCheck => c }.get
    assert(nd.maxHamming == 3 && nd.maxDupFrac == 0.0 &&
      nd.maxBucket == 5000 && nd.scope.isEmpty)
    assert(warnings.count(_.kind == "defaulted_param") == 4)
    val (_, w2) = CheckCompiler.compile(df, Seq(
      NearDupCheck("nd2", idCol = "id", textCol = "grp", maxHamming = 0)))
    assert(w2.isEmpty, "maxHamming=0 (exact-only) is a valid configuration")
  }

  test("a scoped byte-identity check normalizes to global with a warning") {
    val (fixed, warnings) = CheckCompiler.compile(df, Seq(
      ByteIdentityCheck("bi", "id", "grp", scope = Seq("v"))))
    assert(fixed == Seq(ByteIdentityCheck("bi", "id", "grp")))
    assert(warnings.map(w => (w.checkId, w.kind)) == List(("bi", "defaulted_param")))
    val (_, w2) = CheckCompiler.compile(df, Seq(ByteIdentityCheck("bi2", "id", "grp")))
    assert(w2.isEmpty)
  }

  test("valid suite compiles unchanged with no warnings") {
    val (fixed, warnings) = CheckCompiler.compile(df, Seq(
      UniquenessCheck("u", Seq("id")),
      DriftCheck("d", "v", "ts")))
    assert(warnings.isEmpty)
    assert(fixed.map(_.id) == Seq("u", "d"))
  }
}
