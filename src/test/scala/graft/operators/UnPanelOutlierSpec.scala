package graft.operators

import graft.SparkSpec
import graft.engine.CacheTracker
import graft.stats.UnCov
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Golden tests for the type=UN panel outlier operator: hand-computed
  * pooled covariance / Mahalanobis distances on small panels, plus the
  * complete-case, singularity, and planted-outlier policies; and the
  * per-key co-moment kernel ≡ the eager lineage it replaced
  * (UnPanelOutlierRef). */
class UnPanelOutlierSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = UnPanelOutlier.Config("un", "y", "subj", "slot")

  /** Hand-rolled reference: pooled covariance and d² from a balanced
    * panel matrix (rows = subjects, cols = slots). */
  private def reference(y: Array[Array[Double]]): (Array[Array[Double]], Array[Double]) = {
    val k = y.length
    val t = y(0).length
    val mu = Array.tabulate(t)(j => y.map(_(j)).sum / k)
    val r = y.map(row => row.indices.map(j => row(j) - mu(j)).toArray)
    val cov = Array.tabulate(t, t)((a, b) =>
      r.map(v => v(a) * v(b)).sum / (k - 1))
    val inv = UnCov.invert(cov)
    (cov, r.map(v => UnCov.mahalanobis(v, inv)))
  }

  test("pooled covariance and d2 match the hand-rolled balanced reference") {
    // 5 subjects × 3 slots, values chosen to give a well-conditioned cov
    val y = Array(
      Array(1.0, 2.0, 4.0),
      Array(2.0, 1.0, 5.0),
      Array(3.0, 4.0, 3.0),
      Array(0.0, 2.0, 6.0),
      Array(4.0, 6.0, 2.0))
    val rows = for (s <- y.indices; t <- 0 until 3)
      yield (s.toString, t, y(s)(t))
    val df = rows.toDF("subj", "slot", "y")
    val got = UnPanelOutlier.scored(df, cfg)
      .select("__subj", "d2").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (_, wantD2) = reference(y)
    y.indices.foreach { s =>
      assert(math.abs(got(s.toString) - wantD2(s)) < 1e-9, s"subj=$s")
    }
  }

  test("per-(subject, slot) means panelize repeated observations") {
    // subject 0 has two rows in slot 0 (mean 1.5) — the panel value
    val df = Seq(("0", 0, 1.0), ("0", 0, 2.0), ("0", 1, 3.0),
      ("1", 0, 2.0), ("1", 1, 1.0),
      ("2", 0, 4.0), ("2", 1, 5.0)).toDF("subj", "slot", "y")
    val y = Array(Array(1.5, 3.0), Array(2.0, 1.0), Array(4.0, 5.0))
    val got = UnPanelOutlier.scored(df, cfg)
      .select("__subj", "d2").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (_, wantD2) = reference(y)
    y.indices.foreach(s => assert(math.abs(got(s.toString) - wantD2(s)) < 1e-9))
  }

  test("incomplete subjects are excluded from estimation and scoring") {
    val complete = for (s <- 0 until 4; t <- 0 until 2)
      yield (s.toString, t, (s * 2 + t * 3 + (s * t) % 3).toDouble)
    val partial = Seq(("9", 0, 100.0)) // missing slot 1
    val df = (complete ++ partial).toDF("subj", "slot", "y")
    val scored = UnPanelOutlier.scored(df, cfg)
    assert(!scored.select("__subj").as[String].collect().contains("9"))
    // and the retained panel matches the 4-subject reference exactly
    val y = Array.tabulate(4, 2)((s, t) => (s * 2 + t * 3 + (s * t) % 3).toDouble)
    val (_, wantD2) = reference(y)
    val got = scored.select("__subj", "d2").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    y.indices.foreach(s => assert(math.abs(got(s.toString) - wantD2(s)) < 1e-9))
  }

  test("planted outlier subject is flagged, conformers are not") {
    // 20 subjects follow slot pattern (10, 20, 30) with tiny deterministic
    // jitter; subject 19 inverts the pattern entirely
    val rows = (0 until 20).flatMap { s =>
      (0 until 3).map { t =>
        val base = if (s == 19) 40.0 - 10.0 * (t + 1) else 10.0 * (t + 1)
        (s.toString, t, base + 0.1 * ((s * 7 + t * 3) % 5))
      }
    }
    val scored = UnPanelOutlier.scored(rows.toDF("subj", "slot", "y"),
      cfg.copy(cutoffPct = 99.0))
    val flags = scored.select("__subj", "flag_outlier").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(flags("19"), "planted anti-pattern subject must flag")
    assert(flags.count(_._2) == 1, "conformers must not flag")
    val verdict = UnPanelOutlier.verdicts(rows.toDF("subj", "slot", "y"), cfg)
      .select("stat", "pass").collect()(0)
    assert(verdict.getDouble(0) == 1.0 && !verdict.getBoolean(1))
    val viol = UnPanelOutlier.violations(rows.toDF("subj", "slot", "y"), cfg)
    assert(viol.select("key").as[String].collect().toSeq == Seq("19"))
  }

  test("singular covariance (k <= T) yields a pass=null verdict, no flags") {
    // 3 subjects, 4 slots: pooled cov has rank <= 2 < 4 → singular
    val rows = for (s <- 0 until 3; t <- 0 until 4)
      yield (s.toString, t, (s + t).toDouble)
    val df = rows.toDF("subj", "slot", "y")
    val scored = UnPanelOutlier.scored(df, cfg)
    assert(scored.filter(col("d2").isNotNull).count() == 0)
    assert(scored.filter(col("flag_outlier")).count() == 0)
    val v = UnPanelOutlier.verdicts(df, cfg).select("pass").collect()(0)
    assert(v.isNullAt(0), "non-evaluable scope must report pass=null")
  }

  test("scoped panels estimate independent covariances per scope key") {
    val rows =
      (for (s <- 0 until 6; t <- 0 until 2)
        yield ("a", s.toString, t, (s + 2 * t + (s * t) % 2).toDouble)) ++
      (for (s <- 0 until 6; t <- 0 until 2)
        yield ("b", s.toString, t, (3 * s - t + (s + t) % 3).toDouble))
    val df = rows.toDF("grp", "subj", "slot", "y")
    val scored = UnPanelOutlier.scored(df, cfg.copy(scope = Seq("grp")))
    assert(scored.select("__key").distinct().as[String].collect().toSet == Set("a", "b"))
    val ya = Array.tabulate(6, 2)((s, t) => (s + 2 * t + (s * t) % 2).toDouble)
    val (_, wantA) = reference(ya)
    val gotA = scored.filter(col("__key") === "a").select("__subj", "d2")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ya.indices.foreach(s => assert(math.abs(gotA(s.toString) - wantA(s)) < 1e-9))
  }

  // ---- lazy co-moment kernel ≡ the eager Σ̂-collecting reference ----

  /** (grp, subj, slot, y): scopes "a" (with a planted outlier), "b" (same
    * subject ids as "a") and null, each with repeated cells and incomplete
    * subjects; "sing" (k = 3 ≤ T = 4), "one" (T = 1) and "wide" (T = 33). */
  private def panelRows(seed: Int): Seq[(String, Long, Int, Double)] = {
    val rnd = new Random(seed)
    def scope(grp: String, nSubj: Int, nSlots: Int, base: Long) = for {
      s <- 0 until nSubj; t <- 0 until nSlots
      if !(s % 7 == 3 && t == nSlots - 1) // incomplete: misses the last slot
      _ <- 0 until (if (rnd.nextDouble() < 0.15) 2 else 1) // repeated cell
    } yield (grp, base + s, 10 * t + 1,
      5.0 * t + (s % 4) + rnd.nextGaussian() * (1 + t % 3) +
        (if (grp == "a" && s == 5 && t == 1) 100.0 else 0.0))
    scope("a", 25, 4, 1000L) ++ scope("b", 30, 3, 1000L) ++ scope(null, 20, 5, 5000L) ++
      scope("sing", 3, 4, 7000L) ++ scope("one", 12, 1, 8000L) ++ scope("wide", 40, 33, 9000L)
  }

  private def close(a: Double, b: Double) =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Same columns, same rows: doubles within 1e-9 relative, the rest equal. */
  private def sameRows(got: DataFrame, ref: DataFrame, what: String): Unit =
    RowEquivalence.sameRows(got, ref, what)(close)

  for (ids <- Seq("long", "string"))
    test(s"co-moment kernel ≡ reference lineage: scored, verdicts, violations ($ids subject ids)") {
      for (seed <- 1 to 2) CacheTracker.scope {
        val rows = panelRows(seed)
        val df =
          if (ids == "long") rows.toDF("grp", "subj", "slot", "y")
          else rows.map { case (g, s, t, y) => (g, s"u$s", t, y) }.toDF("grp", "subj", "slot", "y")
        val c = cfg.copy(scope = Seq("grp"))
        val got = UnPanelOutlier.scored(df, c)
        val ref = UnPanelOutlierRef.scored(df, c)
        assert(got.schema.map(f => f.name -> f.dataType) == ref.schema.map(f => f.name -> f.dataType))
        sameRows(got, ref, s"seed $seed scored")
        sameRows(UnPanelOutlier.verdictsFrom(got, c), UnPanelOutlier.verdictsFrom(ref, c),
          s"seed $seed verdicts")
        sameRows(UnPanelOutlier.violationsFrom(got, c), UnPanelOutlier.violationsFrom(ref, c),
          s"seed $seed violations")
        // the panel exercises what it claims: T = 33 excluded, null scope
        // kept, a singular scope unscored, T = 1 scored, the plant flagged
        val byKey = got.groupBy("__key").agg(
          count(lit(1)).as("n"), count(col("d2")).as("n_d2"),
          max("t_slots").as("t"), max(col("flag_outlier").cast("int")).as("flag"))
          .collect().map(r => r.getString(0) -> r).toMap
        assert(byKey.keySet == Set("a", "b", "∅", "sing", "one"), byKey.keySet)
        assert(byKey("sing").getLong(2) == 0 && byKey("sing").isNullAt(3))
        assert(byKey("one").getInt(3) == 1 && byKey("one").getLong(2) == byKey("one").getLong(1))
        assert(byKey("a").getLong(1) == 21 && byKey("a").getInt(4) == 1)
        val pass = UnPanelOutlier.verdictsFrom(got, c).select("partition", "pass").collect()
          .map(r => r.getString(0) -> r).toMap
        assert(pass("sing").isNullAt(1) && !pass("a").getBoolean(1))
      }
    }

  test("co-moment merge ≡ one pass over the same vectors, in any split") {
    val rnd = new Random(5)
    val ys = Array.fill(40)(Array.fill(6)(rnd.nextGaussian() * 3 + 10))
    def fold(vs: Seq[Array[Double]]) =
      vs.foldLeft(UnCov.emptyMoments)((b, y) => UnCov.add(b, y))
    val whole = fold(ys.toSeq)
    for (cut <- Seq(1, 17, 39)) {
      val merged = UnCov.merge(fold(ys.take(cut).toSeq), fold(ys.drop(cut).toSeq))
      assert(merged.n == 40)
      merged.mean.zip(whole.mean).foreach { case (a, b) => assert(close(a, b)) }
      merged.m2.zip(whole.m2).foreach { case (a, b) => assert(close(a, b)) }
    }
    // and the two-pass textbook moments
    val mu = Array.tabulate(6)(j => ys.map(_(j)).sum / 40)
    for (i <- 0 until 6; j <- 0 until 6)
      assert(close(whole.m2(i * 6 + j), ys.map(y => (y(i) - mu(i)) * (y(j) - mu(j))).sum))
  }

  test("panel fit state is exact in any update and merge order, and bounded") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val vt = ArrayType(StructType(Seq(StructField("slot", IntegerType), StructField("y", DoubleType))))
    val agg = graft.stats.PanelFitAggExpr(BoundReference(0, vt, nullable = true), 99.0)
    val rnd = new Random(11)
    // 30 complete subjects over slots {1, 2, 3}; 10 incomplete ones
    val subjects = (0 until 40).map { s =>
      val slots = if (s < 30) Seq(1, 2, 3) else Seq(Seq(1, 2), Seq(2, 3), Seq(3))(s % 3)
      slots.map(t => (t, 10.0 * t + rnd.nextGaussian()))
    }
    def row(v: Seq[(Int, Double)]) =
      InternalRow(new GenericArrayData(v.map { case (t, y) => InternalRow(t, y): Any }.toArray))
    // `parts` partial states, each through the shuffle's byte form, merged
    def run(order: Seq[Seq[(Int, Double)]], parts: Int): InternalRow = {
      val size = math.ceil(order.size.toDouble / parts).toInt
      val bufs = order.grouped(size).map(_.foldLeft(agg.createAggregationBuffer())(
        (b, v) => agg.update(b, row(v)))).toSeq
      agg.eval(bufs.map(b => agg.deserialize(agg.serialize(b))).reduce(agg.merge))
        .asInstanceOf[InternalRow]
    }
    val ref = run(subjects, 1)
    assert(ref.getInt(0) == 3 && ref.getLong(1) == 30L)
    for (seed <- 1 to 5; parts <- Seq(2, 3, 7)) {
      val got = run(new Random(seed).shuffle(subjects), parts)
      assert(got.getInt(0) == 3 && got.getLong(1) == 30L, s"seed $seed parts $parts")
      got.getArray(2).toDoubleArray().zip(ref.getArray(2).toDoubleArray())
        .foreach { case (a, b) => assert(close(a, b)) }
      assert(got.getDouble(4) == ref.getDouble(4))
    }
    // one more slot, seen on a single subject, leaves no subject complete
    val wider = run(subjects :+ Seq((4, 1.0)), 3)
    assert(wider.getInt(0) == 4 && wider.isNullAt(1) && wider.isNullAt(3))
    // past MaxSlots the key is excluded and the state stays empty
    val wide = agg.update(agg.createAggregationBuffer(),
      row((1 to UnCov.MaxSlots + 1).map(t => (t, 1.0))))
    assert(wide.domain == null && wide.cm.n == 0 && agg.eval(wide) == null)
  }
}
