package graft.operators

import graft.SparkSpec
import graft.checks._
import graft.stats.Distributions
import org.apache.spark.sql.functions._

/** Golden flagged-record sets (SURVEY.md §5.1, FIXTURES.md §3): tiny
  * hand-built tables with planted anomalies; expected flags derived from
  * independent plain-Scala computations inside the test, not the engine.
  */
class OperatorGoldenSpec extends SparkSpec {
  import spark.implicits._

  // ---- digit extraction semantics (DigitPref.sas:133-158) ----------------

  test("digitAt reproduces the reference's place arithmetic + sentinel") {
    val rows = Seq(12.34, 12.3, 12.0, 5.0, 0.57, 99.99)
    val df = rows.toDF("v").select(
      col("v"),
      DigitPreference.digitAt(col("v"), 1.0).as("ones"),
      DigitPreference.digitAt(col("v"), 0.1).as("tenths"),
      DigitPreference.digitAt(col("v"), 0.01).as("cents"))
    val m = df.collect().map(r => r.getDouble(0) ->
      (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(m(12.34) == ((2, 3, 4)))
    assert(m(12.3) == ((2, 3, -1)))  // no 2nd decimal recorded → sentinel
    assert(m(12.0) == ((2, -1, -1))) // integer-recorded → sentinel at both
    assert(m(5.0) == ((5, -1, -1)))
    assert(m(0.57) == ((0, 5, 7)))
    assert(m(99.99) == ((9, 9, 9)))
  }

  test("DigitPreference flags planted terminal-digit cluster and integer recording") {
    // group A: balanced digits 0-9 ×10 (no flag);
    // group B: 60% terminal-5 (GOF flag); group C: integers (none-share flag)
    val a = (0 until 100).map(i => ("A", 10.0 + i % 10 * 0.1 + 0.01)) // digits 1..9,0 at cents? keep tenths
    val aRows = (0 until 100).map(i => ("A", 10.0 + (i % 10) / 10.0 + 0.01)) // tenths digit uniform
    val bRows = (0 until 100).map(i =>
      ("B", if (i < 60) 20.5 + i else 20.0 + (i % 10) / 10.0 + 0.01))
    val cRows = (0 until 100).map(i => ("C", (30 + i).toDouble))
    val df = (aRows ++ bRows ++ cRows).toDF("grp", "v")
    val check = DigitPreferenceCheck("dp", "v", place = 0.1, groupCol = "grp",
      alpha = 0.001, noneThreshold = 20.0, minNum = 10)
    val t = DigitPreference.tests(df, check).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Boolean]("flag_gof"), r.getAs[Boolean]("flag_none"))).toMap
    assert(t("A") == ((false, false)), s"A: ${t("A")}")
    assert(t("B")._1, "B must flag GOF")
    assert(t("C")._2, "C must flag none-share")
    assert(!t("C")._1, "C has no GOF data at all (all sentinel)")
    val v = DigitPreference.outputs(df, check, None)._2.collect()
    assert(v.exists(_.getAs[String]("key") == "B"))
    assert(v.exists(_.getAs[String]("key") == "C"))
    assert(!v.exists(_.getAs[String]("key") == "A"))
  }

  // ---- categorical consistency (Categorical_Check.sas) -------------------

  test("CategoricalConsistency flags the planted off-distribution site, Holm-adjusted") {
    // sites S1..S3 share a resp distribution; S4 inverted. Independent
    // oracle: plain-Scala chi-square + Holm over the same contingency.
    val base = for {
      site <- Seq("S1", "S2", "S3")
      (resp, n) <- Seq(("yes", 60), ("no", 30), ("na", 10))
      i <- 0 until n
    } yield (site, resp)
    val shifted = for {
      (resp, n) <- Seq(("yes", 10), ("no", 30), ("na", 60))
      i <- 0 until n
    } yield ("S4", resp)
    val df = (base ++ shifted).toDF("site", "resp")
    val check = CategoricalConsistencyCheck("cc", "resp", "site", alphaBar = 0.05)
    val got = CategoricalConsistency.tests(df, check).collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("stat"), r.getAs[Double]("p_holm"))).toMap

    // independent computation (one-vs-rest chi-square per site over the
    // full 2xC table, Holm across the 4 sites)
    val counts = (base ++ shifted).groupBy(identity).map { case ((s, r), xs) => (s, r, xs.size) }
    val sites = Seq("S1", "S2", "S3", "S4")
    val resps = Seq("na", "no", "yes")
    val total = 400.0
    def cnt(s: String, r: String) = counts.find(c => c._1 == s && c._2 == r).map(_._3).getOrElse(0).toDouble
    val rawPs = sites.map { s =>
      val nG = resps.map(cnt(s, _)).sum
      val stat = resps.map { r =>
        val o1 = cnt(s, r)
        val colTot = sites.map(cnt(_, r)).sum
        val o2 = colTot - o1
        val e1 = nG * colTot / total
        val e2 = (total - nG) * colTot / total
        (if (e1 > 0) (o1 - e1) * (o1 - e1) / e1 else 0.0) +
          (if (e2 > 0) (o2 - e2) * (o2 - e2) / e2 else 0.0)
      }.sum
      s -> (stat, Distributions.chiSqPValue(stat, resps.size - 1))
    }
    val holmPs = graft.stats.Holm.adjust(rawPs.map(_._2._2))
    rawPs.zip(holmPs).foreach { case ((s, (stat, _)), ph) =>
      assert(math.abs(got(s)._1 - stat) < 1e-9, s"$s stat")
      assert(math.abs(got(s)._2 - ph) < 1e-9, s"$s p_holm")
    }
    // verdict shape: S4 fails, S1-S3's own one-vs-rest also shifts (the
    // planted site contaminates the pool) — but S4 must be the most extreme
    assert(got("S4")._2 < 0.05)
    assert(got("S4")._1 == got.values.map(_._1).max)
    val viol = CategoricalConsistency.outputs(df, check, None)._2.collect()
    assert(viol.exists(_.getAs[String]("key") == "S4"))
  }

  test("Pairwise grid reproduces the reference's heat-map tests (Categorical_Check.sas:368-419)") {
    // same planted fixture as the one-vs-rest golden: S4 inverted
    val base = for {
      site <- Seq("S1", "S2", "S3")
      (resp, n) <- Seq(("yes", 60), ("no", 30), ("na", 10))
      i <- 0 until n
    } yield (site, resp)
    val shifted = for {
      (resp, n) <- Seq(("yes", 10), ("no", 30), ("na", 60))
      i <- 0 until n
    } yield ("S4", resp)
    val df = (base ++ shifted).toDF("site", "resp")
    val check = CategoricalConsistencyCheck("cc", "resp", "site", alphaBar = 0.05)
    val got = CategoricalConsistency.pairwiseTests(df, check).collect()
      .map(r => (r.getAs[String]("grp1"), r.getAs[String]("grp2")) ->
        (r.getAs[Double]("stat"), r.getAs[Double]("p_raw"), r.getAs[Double]("p_holm"))).toMap

    // independent plain-Scala oracle: chi-square per (i, j) pair over the
    // values × {gi, gj} table, Holm across the 6 pairs
    val counts = (base ++ shifted).groupBy(identity).map { case ((s, r), xs) => (s, r, xs.size) }
    def cnt(s: String, r: String) = counts.find(c => c._1 == s && c._2 == r).map(_._3).getOrElse(0).toDouble
    val sites = Seq("S1", "S2", "S3", "S4")
    val resps = Seq("na", "no", "yes")
    val pairs = for (i <- sites.indices; j <- i + 1 until sites.size) yield (sites(i), sites(j))
    val raw = pairs.map { case (g1, g2) =>
      val n1 = resps.map(cnt(g1, _)).sum
      val n2 = resps.map(cnt(g2, _)).sum
      val present = resps.filter(r => cnt(g1, r) + cnt(g2, r) > 0)
      val stat = present.map { r =>
        val rv = cnt(g1, r) + cnt(g2, r)
        val e1 = n1 * rv / (n1 + n2); val e2 = n2 * rv / (n1 + n2)
        (if (e1 > 0) math.pow(cnt(g1, r) - e1, 2) / e1 else 0.0) +
          (if (e2 > 0) math.pow(cnt(g2, r) - e2, 2) / e2 else 0.0)
      }.sum
      (g1, g2) -> (stat, Distributions.chiSqPValue(stat, present.size - 1))
    }
    val holm = graft.stats.Holm.adjust(raw.map(_._2._2))
    raw.zip(holm).foreach { case (((g1, g2), (stat, p)), ph) =>
      assert(math.abs(got((g1, g2))._1 - stat) < 1e-9, s"($g1,$g2) stat")
      assert(math.abs(got((g1, g2))._2 - p) < 1e-9, s"($g1,$g2) p_raw")
      assert(math.abs(got((g1, g2))._3 - ph) < 1e-9, s"($g1,$g2) p_holm")
    }
    // every S4 pair flags; the clean S1/S2/S3 pairs don't
    assert(got(("S1", "S4"))._3 < 0.05 && got(("S2", "S4"))._3 < 0.05 && got(("S3", "S4"))._3 < 0.05)
    assert(got(("S1", "S2"))._3 >= 0.05 && got(("S1", "S3"))._3 >= 0.05 && got(("S2", "S3"))._3 >= 0.05)
  }

  test("Pairwise missing-pair fallback p=1 (Categorical_Check.sas:402-416)") {
    // two panels; group C only exists in 2024 Q1 → (B,C)/(A,C) in Q2 are
    // missing pairs and must emit p_raw = 1 fallback rows
    val q1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val q2 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    val rows =
      Seq.fill(30)(("A", "x", q1)) ++ Seq.fill(30)(("A", "y", q1)) ++
      Seq.fill(30)(("B", "x", q1)) ++ Seq.fill(30)(("B", "y", q1)) ++
      Seq.fill(20)(("C", "x", q1)) ++ Seq.fill(20)(("C", "y", q1)) ++
      Seq.fill(30)(("A", "x", q2)) ++ Seq.fill(30)(("A", "y", q2)) ++
      Seq.fill(30)(("B", "x", q2)) ++ Seq.fill(30)(("B", "y", q2))
    val df = rows.toDF("site", "resp", "ts")
    val t = CategoricalConsistency.pairwiseTests(df,
      CategoricalConsistencyCheck("cc", "resp", "site", dateCol = Some("ts"),
        interval = "quarter")).collect()
    val q2AC = t.find(r => r.getAs[String]("panel") == "2024 Q2" &&
      r.getAs[String]("grp1") == "A" && r.getAs[String]("grp2") == "C").get
    assert(q2AC.getAs[Double]("p_raw") == 1.0)
    assert(q2AC.getAs[String]("test_used") == "missing_pair")
    val q1AC = t.find(r => r.getAs[String]("panel") == "2024 Q1" &&
      r.getAs[String]("grp1") == "A" && r.getAs[String]("grp2") == "C").get
    assert(q1AC.getAs[String]("test_used") == "chisq")
    assert(q1AC.getAs[Double]("p_raw") > 0.9, "balanced pair ≈ no signal")
  }

  test("Fisher exact runs Freeman-Halton on the full 2xC table (Categorical_Check.sas:298,305)") {
    // 3 categories, n=180: the exact network algorithm handles it (no
    // 2x2 restriction); in one-vs-rest with two groups, each group's
    // var×inBar table is the SAME 2×3 table → both p-values = 0.0012350309
    // (independent brute-force enumeration)
    val rows = Seq.fill(40)(("A", "x")) ++ Seq.fill(30)(("A", "y")) ++ Seq.fill(20)(("A", "z")) ++
      Seq.fill(20)(("B", "x")) ++ Seq.fill(30)(("B", "y")) ++ Seq.fill(40)(("B", "z"))
    val df = rows.toDF("site", "resp")
    val check = CategoricalConsistencyCheck("cf", "resp", "site", test = "fisher")
    val t = CategoricalConsistency.tests(df, check).collect()
    assert(t.forall(_.getAs[String]("test_used") == "fisher"))
    assert(t.forall(r => math.abs(r.getAs[Double]("p_raw") - 0.0012350309) < 1e-9))
    val v = CategoricalConsistency.outputs(df, check, None)._1
      .filter(col("metric") === "fisher_one_vs_rest").collect()
    assert(v.nonEmpty)
    // 2 categories → same exact path
    val rows2 = Seq.fill(40)(("A", "x")) ++ Seq.fill(30)(("A", "y")) ++
      Seq.fill(20)(("B", "x")) ++ Seq.fill(30)(("B", "y"))
    val t2 = CategoricalConsistency.tests(rows2.toDF("site", "resp"),
      CategoricalConsistencyCheck("cf2", "resp", "site", test = "fisher")).collect()
    assert(t2.forall(_.getAs[String]("test_used") == "fisher"))
  }

  test("Fisher falls back to chi-square ONLY over the enumeration budget, flagged (SURVEY §7.6.2)") {
    // n = 3600 > the 2000-row exact budget → chisq_fallback, flagged in
    // tests and carried into the verdict metric
    val rows = Seq.fill(800)(("A", "x")) ++ Seq.fill(600)(("A", "y")) ++ Seq.fill(400)(("A", "z")) ++
      Seq.fill(400)(("B", "x")) ++ Seq.fill(600)(("B", "y")) ++ Seq.fill(800)(("B", "z"))
    val df = rows.toDF("site", "resp")
    val check = CategoricalConsistencyCheck("cf3", "resp", "site", test = "fisher")
    val t = CategoricalConsistency.tests(df, check).collect()
    assert(t.forall(_.getAs[String]("test_used") == "chisq_fallback"))
    val v = CategoricalConsistency.outputs(df, check, None)._1
      .filter(col("metric").contains("fallback")).collect()
    assert(v.nonEmpty && v.forall(_.getAs[String]("metric") == "chisq_fallback_one_vs_rest"))
  }

  test("holmPooled reproduces the reference's pooled multtest family (Categorical_Check.sas:435-466)") {
    // 3 groups → 3 one-vs-rest ('Stacked') + 3 pairwise ('Heat') p-values
    // pooled into ONE Holm family per panel; expected adjustment computed
    // independently from the raw p-values with plain-Scala Holm
    val rows =
      Seq.fill(40)(("A", "x")) ++ Seq.fill(25)(("A", "y")) ++
      Seq.fill(25)(("B", "x")) ++ Seq.fill(40)(("B", "y")) ++
      Seq.fill(33)(("C", "x")) ++ Seq.fill(32)(("C", "y"))
    val df = rows.toDF("site", "resp")
    val check = CategoricalConsistencyCheck("hp", "resp", "site",
      pairwise = true, holmPooled = true)
    val sRaw = CategoricalConsistency.tests(df, check).collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[Double]("p_raw")).toMap
    val hRaw = CategoricalConsistency.pairwiseTests(df, check).collect()
      .map(r => (r.getAs[String]("grp1"), r.getAs[String]("grp2")) -> r.getAs[Double]("p_raw")).toMap
    // pooled family: deterministic order for the expected computation
    val ids = sRaw.keys.toSeq.sorted.map(Left(_): Either[String, (String, String)]) ++
      hRaw.keys.toSeq.sorted.map(Right(_): Either[String, (String, String)])
    val ps = ids.map { case Left(g) => sRaw(g); case Right(p) => hRaw(p) }
    val expected = ids.zip(graft.stats.Holm.adjust(ps)).toMap
    val (gotS, gotH) = CategoricalConsistency.pooledTests(df, check)
    gotS.collect().foreach { r =>
      val g = r.getAs[String]("grp")
      assert(math.abs(r.getAs[Double]("p_holm") - expected(Left(g))) < 1e-12, s"stacked $g")
    }
    gotH.collect().foreach { r =>
      val p = (r.getAs[String]("grp1"), r.getAs[String]("grp2"))
      assert(math.abs(r.getAs[Double]("p_holm") - expected(Right(p))) < 1e-12, s"heat $p")
    }
    // and the pooled adjustment differs from the separate-family one for
    // at least one row (i.e. the option is not a no-op on this fixture)
    val sep = CategoricalConsistency.tests(df, check).collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[Double]("p_holm")).toMap
    assert(gotS.collect().exists(r =>
      math.abs(r.getAs[Double]("p_holm") - sep(r.getAs[String]("grp"))) > 1e-15))
    // verdict surface carries the pooled values
    val v = CategoricalConsistency.outputs(df, check, None)._1.collect()
    assert(v.nonEmpty)
  }

  test("_All_ overall bar emitted per panel (Categorical_Check.sas:317-340)") {
    val rows = Seq.fill(60)(("A", "x")) ++ Seq.fill(40)(("A", "y")) ++
      Seq.fill(30)(("B", "x")) ++ Seq.fill(70)(("B", "y"))
    val df = rows.toDF("site", "resp")
    val check = CategoricalConsistencyCheck("ob", "resp", "site")
    val bar = CategoricalConsistency.overallBar(df, check).collect()
      .map(r => r.getAs[String]("value") -> (r.getAs[Long]("cnt"), r.getAs[Double]("row_pct"))).toMap
    assert(bar("x") == ((90L, 45.0)) && bar("y") == ((110L, 55.0)))
    val v = CategoricalConsistency.outputs(df, check, None)._1
      .filter(col("metric") === "overall_bar").collect()
    assert(v.length == 1)
    assert(v(0).getAs[String]("partition").endsWith("grp=_All_"))
    assert(v(0).getAs[Long]("n_obs") == 200L && v(0).getAs[Boolean]("pass"))
  }

  test("pairwise=true folds the heat-map grid into check verdicts") {
    val rows = Seq.fill(60)(("A", "x")) ++ Seq.fill(40)(("A", "y")) ++
      Seq.fill(10)(("B", "x")) ++ Seq.fill(90)(("B", "y"))
    val df = rows.toDF("site", "resp")
    val v = CategoricalConsistency.outputs(df,
      CategoricalConsistencyCheck("pw", "resp", "site", pairwise = true, alphaBar = 0.05), None)._1
      .collect()
    val pairRows = v.filter(_.getAs[String]("metric").endsWith("_pairwise"))
    assert(pairRows.length == 1)
    assert(pairRows(0).getAs[String]("partition").endsWith("pair=A|B"))
    assert(!pairRows(0).getAs[Boolean]("pass"), "planted shift must fail the pair test")
  }

  test("CategoricalConsistency minNum excludes small groups (Categorical_Check.sas:254)") {
    val rows = Seq.fill(50)(("big", "x")) ++ Seq.fill(50)(("big2", "y")) ++
      Seq(("small", "x"), ("small", "y"))
    val df = rows.toDF("site", "resp")
    val t = CategoricalConsistency.tests(df,
      CategoricalConsistencyCheck("cc", "resp", "site", minNum = 10)).collect()
    assert(!t.exists(_.getAs[String]("grp") == "small"))
  }

  // ---- regression outliers (univariatePlot/BivariatePlot) ----------------

  test("RegressionOutlier flags the planted point; missing outcomes excluded") {
    val clean = (1 to 30).map(i => (s"id$i", i.toDouble, 2.0 + 3.0 * i +
      (if (i % 2 == 0) 0.4 else -0.4)))
    val outlier = Seq(("idX", 15.0, 120.0)) // far off the line
    val missing = Seq(("idM", 5.0, Double.NaN))
    val df = (clean ++ outlier).toDF("id", "x", "y")
      .unionByName(missing.toDF("id", "x", "y")
        .select(col("id"), col("x"), when(isnan(col("y")), lit(null)).otherwise(col("y")).as("y")))
    val check = RegressionOutlierCheck("ro", "y", "id",
      contCovariates = Seq("x"), cutoffPct = 95)
    val f = RegressionOutlier.flagged(df, check).collect()
    assert(f.length == 31) // the null-y row is excluded
    val flagged = f.filter(_.getAs[Boolean]("flag_outlier")).map(_.getAs[String]("id"))
    assert(flagged.contains("idX"))
    assert(flagged.length <= 3, s"too many flags: ${flagged.mkString(",")}")
    val v = RegressionOutlier.violations(df, check).collect()
    assert(v.exists(_.getAs[String]("key") == "idX"))
  }

  test("RegressionOutlier with class covariate and Cook's D cutoff (BivariatePlot.sas:481)") {
    val rows = (1 to 40).map { i =>
      val sex = if (i % 2 == 0) "M" else "F"
      val base = if (sex == "M") 10.0 else 5.0
      (s"id$i", sex, i.toDouble, base + 0.5 * i + (if (i % 3 == 0) 0.2 else -0.1))
    } :+ (("idHL", "M", 200.0, 500.0)) // high-leverage influential point
    val df = rows.toDF("id", "sex", "x", "y")
    val check = RegressionOutlierCheck("ro2", "y", "id",
      contCovariates = Seq("x"), discCovariates = Seq("sex"),
      cutoffPct = 95, cookCutoff = Some(4.0))
    val f = RegressionOutlier.flagged(df, check).collect()
    val hl = f.find(_.getAs[String]("id") == "idHL").get
    assert(hl.getAs[Boolean]("flag_cookd"), "high-leverage point must trip Cook's D")
  }

  // ---- group variance (groupComparisons.sas) ------------------------------

  test("GroupVariance flags the 3x-variance group via Brown-Forsythe + Holm") {
    // note: one-vs-rest comparisons (the reference's design,
    // groupComparisons.sas:425-453) flag clean groups too when an extreme
    // group contaminates their "rest" pool — G4 must be the most extreme.
    val rng = new scala.util.Random(7)
    val rows =
      (1 to 120).map(i => ("G1", rng.nextGaussian())) ++
      (1 to 120).map(i => ("G2", rng.nextGaussian())) ++
      (1 to 120).map(i => ("G3", rng.nextGaussian())) ++
      (1 to 120).map(i => ("G4", 3.0 * rng.nextGaussian()))
    val df = rows.toDF("grp", "y")
    val check = GroupVarianceCheck("gv", "y", "grp", alpha = 0.05)
    val t = GroupVariance.tests(df, check).collect()
      .map(r => r.getAs[String]("cmp") ->
        (r.getAs[Double]("stat"), r.getAs[Double]("p_holm"))).toMap
    assert(t("G4")._2 < 0.05, s"G4 p=${t("G4")._2}")
    assert(t("G4")._1 == t.values.map(_._1).max, "planted group is most extreme")
    val v = GroupVariance.outputs(df, check)._2.collect()
    assert(v.map(_.getAs[String]("key")).contains("G4"))

    // homogeneous groups → no flags at all
    val clean = ((1 to 120).map(i => ("H1", rng.nextGaussian())) ++
      (1 to 120).map(i => ("H2", rng.nextGaussian())) ++
      (1 to 120).map(i => ("H3", rng.nextGaussian()))).toDF("grp", "y")
    val tc = GroupVariance.tests(clean, GroupVarianceCheck("gv2", "y", "grp",
      alpha = 0.05)).collect()
    assert(tc.forall(_.getAs[Double]("p_holm") >= 0.05),
      tc.map(r => r.getAs[String]("cmp") -> r.getAs[Double]("p_holm")).toSeq.toString)
  }

  test("GroupVariance method=reml whitening agrees with MoM on the planted fixture") {
    // balanced design: profile REML and ANOVA MoM coincide when the
    // between-group component is positive (VarCompSpec equivalence), so
    // the whitened residuals — and the BF decisions — must match
    val rng = new scala.util.Random(7)
    val rows =
      (1 to 120).map(_ => ("G1", rng.nextGaussian())) ++
      (1 to 120).map(_ => ("G2", rng.nextGaussian())) ++
      (1 to 120).map(_ => ("G3", rng.nextGaussian())) ++
      (1 to 120).map(_ => ("G4", 3.0 * rng.nextGaussian()))
    val df = rows.toDF("grp", "y")
    val mom = GroupVariance.tests(df, GroupVarianceCheck("gvm", "y", "grp", alpha = 0.05))
      .collect().map(r => r.getAs[String]("cmp") -> r.getAs[Double]("p_holm")).toMap
    val reml = GroupVariance.tests(df, GroupVarianceCheck("gvr", "y", "grp", alpha = 0.05,
      method = "reml"))
      .collect().map(r => r.getAs[String]("cmp") -> r.getAs[Double]("p_holm")).toMap
    assert(reml("G4") < 0.05, s"REML path must flag the planted group, p=${reml("G4")}")
    mom.foreach { case (g, p) =>
      assert(math.abs(reml(g) - p) < 1e-6, s"$g: reml=${reml(g)} mom=$p")
    }
  }

  test("GroupVariance skips single-group scopes (groupComparisons.sas:264)") {
    val df = ((1 to 30).map(i => ("A", "only", i.toDouble)) ++
      (1 to 30).map(i => ("B", "g1", i.toDouble)) ++
      (1 to 30).map(i => ("B", "g2", i * 2.0))).toDF("stratum", "grp", "y")
    val t = GroupVariance.tests(df,
      GroupVarianceCheck("gv", "y", "grp", scope = Seq("stratum"))).collect()
    assert(!t.exists(_.getAs[String]("__key") == "A"))
    assert(t.count(_.getAs[String]("__key") == "B") == 2)
  }

  // ---- longitudinal outliers (longitudinalPlot.sas) -----------------------

  test("LongitudinalOutlier flags the planted within-subject spike") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 20).flatMap { s =>
      val level = s * 1.0
      (1 to 10).map { t =>
        val spike = if (s == 7 && t == 5) 25.0 else 0.0
        (s"subj$s", t.toDouble, level + 0.1 * rng.nextGaussian() + spike)
      }
    }
    val df = rows.toDF("subj", "visit", "aval")
    val check = LongitudinalOutlierCheck("lo", "aval", "subj", cutoffPct = 99)
    val f = LongitudinalOutlier.flagged(df, check)
      .filter(col("flag_outlier")).collect()
    assert(f.exists(r => r.getAs[String]("subj") == "subj7" &&
      r.getAs[Double]("visit") == 5.0), "planted spike must flag")
    val v = LongitudinalOutlier.violations(df, check, wholeSubject = true).collect()
    assert(v.count(_.getAs[String]("key") == "subj7") == 10,
      "print=OUTLIERS semi-join returns all rows of the flagged subject")
  }

  test("LongitudinalOutlier ddfm=betwithin partitions the cutoff df") {
    // 4 subjects × 6 rows; x varies within subjects, z is between-only →
    // p_w = 1 of 2 design columns. Expected dfs computed independently:
    //   betwithin: (N − k) − p_w = (24 − 4) − 1 = 19
    //   residual:  N − rank(X)   =  24 − 3      = 21
    //   betwithin, intercept-only model: N − k  = 20
    // (cutoff = tinv(pct, df − 1), the :453-456 workaround form)
    val rows = for (s <- 1 to 4; t <- 1 to 6) yield
      (s.toLong, t.toDouble, s * 10.0, 5.0 + 0.5 * t + s * 2.0)
    val df = rows.toDF("subj", "x", "z", "y")
    def cutoffOf(check: LongitudinalOutlierCheck): Double = {
      val c = LongitudinalOutlier.flagged(df, check)
        .select("cutoff").distinct().as[Double].collect()
      assert(c.length == 1); c.head
    }
    val bw = cutoffOf(LongitudinalOutlierCheck("lo", "y", "subj",
      contCovariates = Seq("x", "z"), cutoffPct = 95, ddfm = "betwithin"))
    assert(math.abs(bw - Distributions.tInv(0.95, 18, sasLowDfWorkaround = true)) < 1e-12)
    val res = cutoffOf(LongitudinalOutlierCheck("lo", "y", "subj",
      contCovariates = Seq("x", "z"), cutoffPct = 95))
    assert(math.abs(res - Distributions.tInv(0.95, 20, sasLowDfWorkaround = true)) < 1e-12)
    val bw0 = cutoffOf(LongitudinalOutlierCheck("lo", "y", "subj",
      cutoffPct = 95, ddfm = "betwithin"))
    assert(math.abs(bw0 - Distributions.tInv(0.95, 19, sasLowDfWorkaround = true)) < 1e-12)
    // betwithin's narrower within df ⇒ strictly larger t cutoff
    assert(bw > res)
  }

  // ---- drift ---------------------------------------------------------------

  test("Drift flags the planted shifted window") {
    val rows = (0 until 4).flatMap { q =>
      (1 to 500).map { i =>
        val base = (i % 100) / 10.0
        val v = if (q == 2) base + 6.0 else base // planted shift in Q3
        (java.sql.Timestamp.valueOf(f"2023-${q * 3 + 1}%02d-15 00:00:00"), v)
      }
    }
    val df = rows.toDF("ts", "v")
    val t = Drift.tests(df, DriftCheck("dr", "v", "ts", interval = "quarter",
      bins = 12, alpha = 0.01)).collect()
      .map(r => r.getAs[String]("panel") ->
        (r.getAs[Double]("stat"), r.getAs[Boolean]("pass"))).toMap
    assert(!t("2023 Q3")._2, "shifted quarter must fail")
    assert(t("2023 Q3")._1 == t.values.map(_._1).max,
      "shifted quarter is the most extreme window")

    // no-drift data → every window passes
    val clean = (0 until 4).flatMap { q =>
      (1 to 500).map { i =>
        (java.sql.Timestamp.valueOf(f"2023-${q * 3 + 1}%02d-15 00:00:00"),
          (i % 100) / 10.0)
      }
    }.toDF("ts", "v")
    val tc = Drift.tests(clean, DriftCheck("dr2", "v", "ts",
      interval = "quarter", bins = 12, alpha = 0.01)).collect()
    assert(tc.forall(_.getAs[Boolean]("pass")), "clean windows must pass")
  }

  test("Drift zero-fills empty bins: chi-square terms, df and KS include them") {
    // disjoint supports: Q1 mass in bins 0-1, Q2 in bins 2-3 (bins=4,
    // min=0.5, max=3.5 → width 0.75). Hand-computed: every bin term is
    // (10-5)²/5 + (0-5)²/5 = 10 → stat 40 over 4 bins, df 3, KS 1.0.
    // WITHOUT the fill, Q1's empty bins 2-3 emit no rows → stat 20, df 1.
    val q1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val q2 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    val rows =
      Seq.fill(10)((q1, 0.5)) ++ Seq.fill(10)((q1, 1.5)) ++
      Seq.fill(10)((q2, 2.5)) ++ Seq.fill(10)((q2, 3.5))
    val df = rows.toDF("ts", "v")
    val t = Drift.tests(df, DriftCheck("dz", "v", "ts", interval = "quarter",
      bins = 4)).collect()
      .map(r => r.getAs[String]("panel") ->
        (r.getAs[Double]("stat"), r.getAs[Double]("df"), r.getAs[Double]("ks"))).toMap
    for (p <- Seq("2024 Q1", "2024 Q2")) {
      assert(math.abs(t(p)._1 - 40.0) < 1e-9, s"$p stat=${t(p)._1}")
      assert(t(p)._2 == 3.0, s"$p df=${t(p)._2}")
      assert(math.abs(t(p)._3 - 1.0) < 1e-9, s"$p ks=${t(p)._3}")
    }
  }

  test("Drift keeps null scope groups (null-safe grand-total join)") {
    // two scope groups: "a" and null, each with the same disjoint-support
    // shift between quarters — the null group must produce the SAME tests
    // rows as the named group, not silently vanish (dirty inputs hold null
    // scope values by definition)
    val q1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val q2 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    val rows = for {
      g <- Seq("a", null)
      (q, v) <- Seq.fill(10)((q1, 0.5)) ++ Seq.fill(10)((q1, 1.5)) ++
        Seq.fill(10)((q2, 2.5)) ++ Seq.fill(10)((q2, 3.5))
    } yield (g, q, v)
    val df = rows.toDF("grp", "ts", "v")
    val t = Drift.tests(df, DriftCheck("dn", "v", "ts", interval = "quarter",
      bins = 4, scope = Seq("grp"))).collect()
    val byGrp = t.groupBy(r => Option(r.getAs[String]("grp")))
    assert(byGrp.keySet == Set(Some("a"), None),
      s"both scope groups must survive, got ${byGrp.keySet}")
    for ((g, rs) <- byGrp) {
      assert(rs.length == 2, s"$g: two panels expected")
      assert(rs.forall(r => math.abs(r.getAs[Double]("stat") - 40.0) < 1e-9),
        s"$g: stats ${rs.map(_.getAs[Double]("stat")).toSeq}")
    }
  }

  // ---- uniqueness / referential / byte identity ---------------------------

  test("Uniqueness counts extra rows; Referential finds orphans; ByteIdentity catches divergence") {
    val df = Seq(
      ("u1", "h1", "t1"), ("u2", "h1", "t2"), ("u2", "h1", "t2"),
      ("u3", "hX", "t3"), ("u4", "h2", "t4"), ("u4", "h2", "DIFFERENT")
    ).toDF("url", "host", "text")
    val uq = Uniqueness.verdicts(df, UniquenessCheck("u", Seq("url"))).collect()(0)
    assert(!uq.getAs[Boolean]("pass") && uq.getAs[Double]("stat") == 2.0)
    val hosts = Seq("h1", "h2").toDF("host_ok")
    val rc = ReferentialCheck("r", "host", "hosts", "host_ok")
    val rv = Referential.verdicts(df, hosts, rc, "url").collect()(0)
    assert(!rv.getAs[Boolean]("pass") && rv.getAs[Double]("stat") == 1.0)
    val orphans = Referential.violations(df, hosts, rc, "url").collect()
    assert(orphans.map(_.getAs[String]("key")).toSeq == Seq("u3"))
    val bi = ByteIdentity.verdicts(df, ByteIdentityCheck("b", "url", "text")).collect()(0)
    assert(!bi.getAs[Boolean]("pass") && bi.getAs[Double]("stat") == 1.0)
    val bv = ByteIdentity.violations(df, ByteIdentityCheck("b", "url", "text")).collect()
    assert(bv.map(_.getAs[String]("key")).toSeq == Seq("u4"))
  }

  test("fused KeyScan phase 2 ≡ standalone phase 2 (incl. hash-collision grouping)") {
    val df = Seq(
      ("u1", "t1"), ("u2", "t2"), ("u2", "t2"), ("u2", "t2"),
      ("u4", "t4"), ("u4", "DIFFERENT"), ("u5", "t5")
    ).toDF("url", "text")
    val u = UniquenessCheck("u", Seq("url"))
    val b = ByteIdentityCheck("b", "url", "text")
    val p1 = KeyScan.phase1(df, Seq("url"))
    val p2 = KeyScan.phase2(df, Seq("url"), "text", p1)
    // frame contents: exact per-key counts + distinct full digests
    val rows = p2.collect().map(r => r.getAs[String]("url") ->
      (r.getAs[Long]("dup_count"), r.getAs[Long]("n_digests"))).toMap
    assert(rows == Map("u2" -> ((3L, 1L)), "u4" -> ((2L, 2L))))
    // both checks' verdicts/violations from the ONE shared frame match standalone
    val uvShared = Uniqueness.verdicts(df, u, shared = Some(p2)).collect()(0)
    assert(uvShared.getAs[Double]("stat") == Uniqueness.verdicts(df, u).collect()(0).getAs[Double]("stat") &&
      uvShared.getAs[Double]("stat") == 3.0)
    val bvShared = ByteIdentity.verdicts(df, b, shared = Some(p2)).collect()(0)
    assert(bvShared.getAs[Double]("stat") == ByteIdentity.verdicts(df, b).collect()(0).getAs[Double]("stat") &&
      bvShared.getAs[Double]("stat") == 1.0)
    assert(ByteIdentity.violations(df, b).collect().map(_.getAs[String]("key")).toSeq == Seq("u4"))
    assert(Uniqueness.violations(df, u, shared = Some(p2))
      .collect().map(_.getAs[String]("key")).sorted.toSeq == Seq("u2", "u4"))
    assert(ByteIdentity.violations(df, b, shared = Some(p2))
      .collect().map(_.getAs[String]("key")).toSeq == Seq("u4"))
    p2.unpersist(); p1.unpersist()
  }

  test("broadcast threshold: KeyScan phase 2 and Dedup exact drops agree on both sides") {
    // the candidate-set size picks broadcast or shuffled semi-join; with the
    // planner's own broadcast off, threshold -1 forces the shuffled side
    val df = Seq(
      ("u1", "t1"), ("u2", "t2"), ("u2", "t2"), ("u2", "t2"),
      ("u4", "t4"), ("u4", "DIFFERENT"), ("u5", "t4"), ("u6", "t1")
    ).toDF("url", "text")
    val sig = df.select(col("url").as("id"), col("text").as("fp"))
    // (sorted rows, broadcast?) of a cached result, released before the
    // other side is built: a hint does not split cache lookup, so a live
    // broadcast-side cache would serve the shuffled side too
    def run(d: org.apache.spark.sql.DataFrame) = {
      val out = (d.collect().map(_.toString).sorted.toSeq,
        d.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      d.unpersist(blocking = true)
      out
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p1 = KeyScan.phase1(df, Seq("url"))
      val (bc, bcBroadcast) = run(KeyScan.phase2(df, Seq("url"), "text", p1))
      val (sh, shBroadcast) = run(KeyScan.phase2(df, Seq("url"), "text", p1, bcMax = -1L))
      assert(bcBroadcast && !shBroadcast)
      assert(bc == sh && bc == Seq("[u2,3,1]", "[u4,2,2]"))
      p1.unpersist()
      val (dBc, dBcBroadcast) = run(Dedup.exactDropsOf(sig))
      val (dSh, dShBroadcast) = run(Dedup.exactDropsOf(sig, bcMax = -1L))
      assert(dBcBroadcast && !dShBroadcast)
      assert(dBc == dSh && dBc == Seq("[u2,exact,u2,0]", "[u2,exact,u2,0]",
        "[u5,exact,u4,0]", "[u6,exact,u1,0]"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ColumnStats fused pass: thresholds verdict correctly") {
    val df = (1 to 100).map(i => (if (i <= 10) None else Some(i.toDouble)))
      .toDF("v")
    val checks = Seq(ColumnStatsCheck("cs", "v",
      maxMissingFrac = Some(0.05), minAllowed = Some(0.0),
      maxAllowed = Some(100.0), quantileBounds = Seq((0.5, 40.0, 70.0))))
    val verdicts = ColumnStats.verdicts(ColumnStats.profile(df, checks), checks)
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Boolean]("pass")).toMap
    assert(!verdicts("missing_frac")) // 10% > 5%
    assert(verdicts("min") && verdicts("max"))
    assert(verdicts("q0.5")) // median ≈ 55 of non-null 11..100
  }
}
