package graft.engine

import graft.SparkSpec
import graft.checks._
import graft.queries.Flagship
import graft.sources.Pages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end engine properties over the synthetic pages table:
  * planted-anomaly detection, determinism/partition invariance, the text
  * byte-identity row invariant, and checkpoint-resume ≡ fresh run
  * (SURVEY.md §5.3, §7.5).
  */
class EngineSpec extends SparkSpec {

  lazy val pages = Pages.generate(spark, 20000).cache()

  test("flagship suite detects every planted anomaly family") {
    val res = Runner.run(pages, Flagship.suite(spark))
    val failing = res.verdicts.filter(!col("pass"))
      .select("check_id").distinct().collect().map(_.getString(0)).toSet
    assert(failing.contains("unique_url"), "planted exact duplicates")
    assert(failing.contains("host_registered"), "planted unregistered hosts")
    assert(failing.contains("lang_consistency"), "planted lang shift")
    assert(failing.contains("score_digits"), "planted digit preference")
    assert(failing.contains("near_dup_text"), "planted exact + near clones")
    assert(failing.contains("chars_regression"), "planted 10×-long texts")
    assert(!failing.contains("text_bytes"), "text bytes must be consistent")
    assert(!failing.contains("score_stats"), "score stats within bounds")
    // model families emit verdicts (present in the benched suite)
    val allIds = res.verdicts.select("check_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(Set("score_variance", "score_longitudinal", "score_un_panel")
      .subsetOf(allIds), allIds.toString)
    // the planted (quarter, bucket) panel is among the flagged ones
    val flaggedPanels = res.verdicts
      .filter(col("check_id") === "lang_consistency" && !col("pass"))
      .select("partition").collect().map(_.getString(0))
    assert(flaggedPanels.exists(p =>
      p.contains(Pages.PlantedQuarter) && p.contains(s"grp=${Pages.PlantedHostBucket}")))
    // digit violations name the planted hosts
    val digitKeys = res.violations.filter(col("check_id") === "score_digits")
      .select("key").collect().map(_.getString(0)).toSet
    assert(digitKeys.contains("3") && digitKeys.contains("7"), digitKeys.toString)
  }

  test("verdicts are partition-count invariant (SURVEY.md §7.6.5)") {
    val suite = Runner.Suite(
      checks = Seq(
        UniquenessCheck("u", Seq("url")),
        CategoricalConsistencyCheck("cc", "lang", "host_bucket",
          dateCol = Some("warc_ts"), interval = "quarter")),
      keyCol = "url")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val v2 = canon(Runner.run(pages.repartition(2), suite).verdicts)
    val v16 = canon(Runner.run(pages.repartition(16), suite).verdicts)
    assert(v2 == v16)
  }

  test("pages generation is deterministic and scale-nested") {
    val a = Pages.generate(spark, 2000, numPartitions = 4)
    val b = Pages.generate(spark, 2000, numPartitions = 13)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("checks never rewrite text: sha2 stable across a full suite run") {
    val before = pages.select(sha2(col("text").cast("binary"), 256).as("h"))
      .groupBy().agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")).as("s"))
      .collect()(0).getLong(0)
    Runner.run(pages, Flagship.suite(spark)).verdicts.count()
    val after = pages.select(sha2(col("text").cast("binary"), 256).as("h"))
      .groupBy().agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")).as("s"))
      .collect()(0).getLong(0)
    assert(before == after)
  }

  test("checkpoint-resume: interrupted + resumed ≡ uninterrupted (SURVEY.md §7.5)") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-resume-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-resume-b").toString
    val input = pages.withColumn("quarter",
      concat(year(col("warc_ts")), lit(" Q"), ceil(month(col("warc_ts")) / 3.0).cast("int")))
    val suite = Runner.Suite(
      checks = Seq(
        UniquenessCheck("u", Seq("url")),
        DigitPreferenceCheck("dp", "score", place = 0.1, groupCol = "host_id",
          alpha = 1e-4, minNum = 30)),
      keyCol = "url")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // uninterrupted reference run
    val full = Runner.runResumable(input, suite, dirB, "quarter", "run-full")
    val fullV = canon(full.verdicts)
    // interrupted after 3 units, then resumed
    Runner.runResumable(input, suite, dirA, "quarter", "run-1", failAfterUnits = 3)
    val manifest1 = graft.store.TableIO.readManifest(dirA)
    assert(manifest1.size == 3, s"interrupted run committed ${manifest1.size} units")
    val resumed = Runner.runResumable(input, suite, dirA, "quarter", "run-2")
    assert(canon(resumed.verdicts) == fullV)
    // lineage: resumed manifest holds both run ids, all units, same hash
    val manifest2 = graft.store.TableIO.readManifest(dirA)
    assert(manifest2.map(_.unit).distinct.size == manifest2.size)
    assert(manifest2.map(_.runId).distinct.sorted == Seq("run-1", "run-2"))
    assert(manifest2.map(_.checkHash).distinct.size == 1)
  }

  test("resume after a suite change ignores the old suite's state (no stale mixing)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resume-c").toString
    val input = pages.withColumn("quarter",
      concat(year(col("warc_ts")), lit(" Q"), ceil(month(col("warc_ts")) / 3.0).cast("int")))
    val suiteA = Runner.Suite(checks = Seq(UniquenessCheck("uA", Seq("url"))), keyCol = "url")
    val suiteB = Runner.Suite(checks = Seq(UniquenessCheck("uB", Seq("url", "host_id"))), keyCol = "url")
    Runner.runResumable(input, suiteA, dir, "quarter", "run-a")
    val resB = Runner.runResumable(input, suiteB, dir, "quarter", "run-b")
    val ids = resB.verdicts.select("check_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids == Set("uB"), s"stale suite-A state leaked into the result: $ids")
    // shrunk input: resume must not resurrect units absent from the input
    val oneQuarter = input.filter(col("quarter") === "2023 Q3")
    val resShrunk = Runner.runResumable(oneQuarter, suiteB, dir, "quarter", "run-c")
    assert(resShrunk.verdicts.count() == 1,
      "read-back must be restricted to units present in the current input")
  }

  test("a null unit is rejected up front, naming the unit column") {
    val suite = Runner.Suite(checks = Seq(UniquenessCheck("u", Seq("url"))), keyCol = "url")
    val small = pages.limit(200)
    // null beside real units (sorting them threw an NPE) and null as the
    // only unit (sanitizing its name threw an NPE)
    val inputs = Seq(
      small.withColumn("quarter", when(xxhash64(col("url")) % 2 === 0, lit("2023 Q1"))),
      small.withColumn("quarter", lit(null).cast("string")))
    inputs.foreach { input =>
      val dir = java.nio.file.Files.createTempDirectory("graft-null-unit").toString
      val e = intercept[IllegalArgumentException](
        Runner.runResumable(input, suite, dir, "quarter", "run-null"))
      assert(e.getMessage.contains("'quarter'"), e.getMessage)
      assert(graft.store.TableIO.readManifest(dir).isEmpty, "no unit may commit")
    }
  }

  test("unified output is the union of verdicts and violations under one kind column") {
    val res = Runner.run(pages, Flagship.suite(spark))
    val u = res.unified.cache()
    try {
      assert(u.filter(col("kind") === "verdict").count() == res.verdicts.count())
      assert(u.filter(col("kind") === "violation").count() == res.violations.count())
      assert(u.count() == res.verdicts.count() + res.violations.count())
    } finally u.unpersist()
  }

  test("resumable run releases every unit-scoped cache (cache lifecycle)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cache-life").toString
    val input = Pages.generate(spark, 8000).withColumn("quarter",
      concat(year(col("warc_ts")), lit(" Q"), ceil(month(col("warc_ts")) / 3.0).cast("int")))
    // exercise the heavy cache planters: KeyScan (uniqueness+byte fused),
    // CellScan (categorical+digit), and GroupVariance's row-proportional
    // residual frame
    val suite = Runner.Suite(
      checks = Seq(
        UniquenessCheck("u", Seq("url")),
        ByteIdentityCheck("b", "url", "text"),
        CategoricalConsistencyCheck("cc", "lang", "host_bucket",
          dateCol = Some("warc_ts"), interval = "quarter"),
        DigitPreferenceCheck("dp", "score", place = 0.1, groupCol = "host_id"),
        GroupVarianceCheck("gv", "score", "host_bucket")),
      keyCol = "url")
    spark.catalog.clearCache() // start from a known-empty cache pool
    val res = Runner.runResumable(input, suite, dir, "quarter", "run-cache")
    assert(res.verdicts.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "unit-scoped caches must all be unpersisted after their unit commits")
    // resumed results unchanged by the release (state is read from the store)
    val again = Runner.runResumable(input, suite, dir, "quarter", "run-cache2")
    assert(again.verdicts.count() == res.verdicts.count())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("plain run + release() leaves an empty cache manager (notebook lifecycle)") {
    val input = Pages.generate(spark, 8000)
    val suite = Runner.Suite(
      checks = Seq(
        UniquenessCheck("u", Seq("url")),
        ByteIdentityCheck("b", "url", "text"),
        CategoricalConsistencyCheck("cc", "lang", "host_bucket",
          dateCol = Some("warc_ts"), interval = "quarter"),
        DigitPreferenceCheck("dp", "score", place = 0.1, groupCol = "host_id"),
        GroupVarianceCheck("gv", "score", "host_bucket")),
      keyCol = "url")
    spark.catalog.clearCache()
    // repeated run → materialize → release cycles, as a notebook would
    var lastCount = -1L
    (1 to 3).foreach { _ =>
      val res = Runner.run(input, suite)
      val c = res.unified.count() // materialize BEFORE release
      assert(lastCount == -1L || c == lastCount, "repeat runs must agree")
      lastCount = c
      res.release()
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "release() must unpersist every run-scoped cache, incl. the " +
        "GroupVariance row-proportional residual frame")
  }

  test("UnPanelCheck as a first-class check: planted panel outlier flags; resume ≡ fresh") {
    import spark.implicits._
    // 30 subjects × 4 slots with tight slot means; subject s07 is wild in
    // slot 2 — its Mahalanobis d² must flag at χ²_4(99)
    val rng = new scala.util.Random(23)
    val rows = (1 to 30).flatMap { s =>
      (1 to 4).map { t =>
        val spike = if (s == 7 && t == 2) 25.0 else 0.0
        (f"s$s%02d", t, 10.0 * t + rng.nextGaussian() + spike, s % 2)
      }
    }
    val df = rows.toDF("subj", "visit", "y", "unit")
    val check = UnPanelCheck("unp", "y", idCol = "subj", slotCol = "visit")
    val suite = Runner.Suite(checks = Seq(check), keyCol = "subj")
    val res = Runner.run(df, suite)
    val v = res.verdicts.collect()
    assert(v.exists(r => r.getAs[String]("check_id") == "unp" &&
      !r.getAs[Boolean]("pass")), "planted panel outlier must fail the verdict")
    val keys = res.violations.select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("s07"), s"violation names the planted subject: $keys")
    res.release()

    // resume ≡ fresh through the checkpointed runner (the NearDupCheck
    // promotion pattern): interrupted at 1 unit, resumed, same verdicts
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    val dirA = java.nio.file.Files.createTempDirectory("graft-unp-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-unp-b").toString
    val full = canon(Runner.runResumable(df, suite, dirB, "unit", "run-f").verdicts)
    Runner.runResumable(df, suite, dirA, "unit", "run-1", failAfterUnits = 1)
    val resumed = canon(Runner.runResumable(df, suite, dirA, "unit", "run-2").verdicts)
    assert(resumed == full)
  }

  test("UnPanelCheck dateCol form derives calendar-bin slots (flagship shape)") {
    val check = UnPanelCheck("unp_q", "score", idCol = "host_id",
      dateCol = Some("warc_ts"), interval = "quarter", cutoffPct = 99.9)
    val res = Runner.run(pages, Runner.Suite(checks = Seq(check), keyCol = "url"))
    val v = res.verdicts.collect()
    assert(v.nonEmpty && v.forall(_.getAs[String]("check_id") == "unp_q"))
    // quarterly host panels over the generator are evaluable (k >> T)
    assert(v.exists(r => !r.isNullAt(r.fieldIndex("pass"))), "evaluable scope expected")
    res.release()
  }

  test("multimodal plumbing: decode stub and frame sampling shapes") {
    val mm = graft.operators.Multimodal.decodeStub(pages.limit(100), "url", "html")
    val rows = mm.collect()
    assert(rows.length == 100)
    // the synthetic html bytes are not an image: flagged fallback features
    assert(rows.forall(!_.getBoolean(1)))
    assert(rows.forall(_.getSeq[Float](2).size == 8))
    val frames = graft.operators.Multimodal.frameSampleStub(pages.limit(10), "url", "html")
    assert(frames.count() >= 10)
    val meta = graft.operators.Multimodal.describeBinary(pages.limit(5), "url", "html")
    assert(meta.collect().forall(_.getAs[Long]("n_bytes") == 16L))
  }

  test("animated-GIF frame sampling is real: exact per-frame sums, stride, flagged fallback") {
    import spark.implicits._
    // 5-frame 6×6 gif (height >= 5: the JDK GIF codec corrupts height 2-4
    // rasters), stride 2 → frames 0, 2, 4 with closed-form sums
    val gif = graft.operators.Multimodal.syntheticGif(9L, 6, 6, 5)
    val df = Seq(("g1", gif), ("bad", Array[Byte](1, 2, 3))).toDF("id", "payload")
    val rows = graft.operators.Multimodal.sampleFrames(df, "id", "payload", stride = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(rows.keySet == Set(("g1", 0), ("g1", 2), ("g1", 4), ("bad", 0)))
    def expected(f: Int): Long =
      (for (x <- 0 until 6; y <- 0 until 6)
        yield (9L * 7 + f * 41 + x * 13 + y * 31) % 256).sum
    for (f <- Seq(0, 2, 4)) {
      val r = rows(("g1", f))
      assert(r.getBoolean(2), s"frame $f decodes")
      assert(r.getAs[Long]("sum_r") == expected(f), s"frame $f exact sum")
      assert(r.getAs[Long]("sum_g") == expected(f) && r.getAs[Long]("sum_b") == expected(f))
      assert(r.getAs[Long]("n_px") == 36L)
    }
    assert(!rows(("bad", 0)).getBoolean(2), "undecodable payload is flagged, not dropped")
  }

  test("parallel check build ≡ sequential build (results + cache release)") {
    val input = Pages.generate(spark, 8000)
    val suite = Flagship.suite(spark)
    // the KLL-backed quantile verdict (score_stats q0.5) is excluded from
    // the exact compare: DataSketches KLL compaction is RANDOMIZED, so its
    // stat differs between ANY two runs (measured 48.66/48.53/48.33 across
    // three sequential runs) — compared within sketch tolerance instead
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def canonV(df: org.apache.spark.sql.DataFrame) =
      canon(df.filter(col("metric") =!= "q0.5"))
    def med(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(col("metric") === "q0.5").select("stat").collect()(0).getDouble(0)
    def runWith(threads: Int) = {
      val res = Runner.run(input, suite, threads)
      val out = (canonV(res.verdicts), med(res.verdicts), canon(res.violations))
      res.release()
      out
    }
    spark.catalog.clearCache()
    val seq = runWith(1)
    val par = runWith(8)
    assert(seq._1 == par._1, "verdicts must be identical under parallel build")
    assert(math.abs(seq._2 - par._2) < 2.0, "q0.5 within KLL tolerance")
    assert(seq._3 == par._3, "violations must be identical under parallel build")
    // worker-thread caches were re-homed into the run's scope → released
    assert(spark.sharedState.cacheManager.isEmpty,
      "parallel-built caches must release like sequential ones")
  }

  test("a failing parallel build releases every cache the run planted") {
    // the model check's eager OLS pass trips the planted failure at build
    // time, after the reduced-frame families' builds have cached frames
    val boom = udf((v: Double) => {
      if (!v.isNaN) throw new IllegalStateException("planted build failure")
      v
    })
    val input = Pages.generate(spark, 4000).withColumn("boom", boom(col("score")))
    val suite = Runner.Suite(checks = Seq(
      CategoricalConsistencyCheck("cc", "lang", "host_bucket",
        dateCol = Some("warc_ts"), interval = "quarter"),
      DigitPreferenceCheck("dp", "score", place = 0.1, groupCol = "host_id"),
      DriftCheck("dr", "score", "warc_ts", interval = "quarter"),
      GroupVarianceCheck("gv", "boom", "host_bucket")), keyCol = "url")
    spark.catalog.clearCache()
    CacheTracker.scope {
      intercept[Exception](Runner.run(input, suite))
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "caches of finished sibling builds must be released with the scope")
  }

  test("concurrent cached calls on one lineage register it exactly once") {
    spark.catalog.clearCache()
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      // each thread builds its own lineage-equal frame, as build workers do
      val fs = (1 to n).map(_ => pool.submit(new java.util.concurrent.Callable[Seq[DataFrame]] {
        def call(): Seq[DataFrame] = {
          val sink = new scala.collection.mutable.ListBuffer[DataFrame]
          CacheTracker.isolated(sink) {
            val df = spark.range(1000).toDF("x").filter(col("x") % 7 === 3)
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            CacheTracker.cached(df)
          }
          sink.toList
        }
      }))
      val registered = fs.flatMap(_.get())
      assert(registered.size == 1, s"registered ${registered.size} times")
      registered.foreach(_.unpersist())
    } finally pool.shutdown()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
