package graft

import graft.functions.TextFunctions
import graft.operators.{Referential, Uniqueness}
import graft.checks.{ReferentialCheck, UniquenessCheck}
import org.apache.spark.sql.functions._

/** Physical-plan guards for the scale properties the 100 TB design relies
  * on (brief: ".explain the plan and iterate until it's the plan you'd
  * want"). These fail if a future change silently drops a pushdown, a
  * broadcast, or map-side partial aggregation.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 scan pushes filters and prunes columns at the parquet source") {
    val df = SparkEntry.queries("q02_scan_filter")(spark, sf("sf0.001"))
    val p = plan(df)
    // the PushedFilters list is truncated in toString — assert on its head
    // and on the data filter reaching the scan node
    assert(p.contains("PushedFilters: [IsNotNull("), p.take(600))
    assert(p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("DataFilters: [")),
      "filters must reach the scan")
    // ReadSchema must not include unprojected columns like l_tax
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_extendedprice"),
      readSchema)
  }

  test("q03 dimension joins are broadcast, not shuffled") {
    val p = plan(SparkEntry.queries("q03_join_broadcast")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("uniqueness agg does map-side partial aggregation (no raw-row shuffle)") {
    val pages = graft.sources.Pages.generate(spark, 1000)
    val p = plan(Uniqueness.duplicateKeys(pages, UniquenessCheck("u", Seq("url"))))
    // partial_count before the exchange, final after
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(800))
    val exchangeIdx = p.indexOf("Exchange")
    val partialIdx = p.indexOf("partial_count")
    assert(partialIdx > exchangeIdx && exchangeIdx >= 0,
      "partial agg must sit below the shuffle (plan prints top-down)")
  }

  test("fused CellScan: ONE shuffle, partial agg collapses the exploded stream map-side") {
    val pages = graft.sources.Pages.generate(spark, 1000)
    val cat = graft.checks.CategoricalConsistencyCheck("cc", "lang", "host_bucket",
      dateCol = Some("warc_ts"), interval = "quarter")
    val dig = graft.checks.DigitPreferenceCheck("dp", "score", place = 0.1,
      groupCol = "host_id")
    val fams = Seq(graft.operators.CategoricalConsistency.cellFamily(cat),
      graft.operators.DigitPreference.cellFamily(dig))
    val p = plan(graft.operators.CellScan.counts(pages, fams))
    val exchanges = "Exchange".r.findAllIn(p).size - "ReusedExchange".r.findAllIn(p).size
    assert(exchanges == 1, s"fused cell scan must shuffle exactly once:\n${p.take(1200)}")
    val exchangeIdx = p.indexOf("Exchange")
    val partialIdx = p.indexOf("partial_count")
    assert(partialIdx > exchangeIdx && exchangeIdx >= 0,
      "partial agg must sit below the shuffle (plan prints top-down)")
  }

  test("two drift checks share ONE bin-edge aggregation pass (fused edges)") {
    val pages = graft.sources.Pages.generate(spark, 1000)
    val d1 = graft.checks.DriftCheck("d1", "score", "warc_ts", interval = "quarter")
    val d2 = graft.checks.DriftCheck("d2", "host_id", "warc_ts", interval = "quarter")
    val named = Seq((d1, "__dr0_mn", "__dr0_w"), (d2, "__dr1_mn", "__dr1_w"))
    val fusedEdges = graft.operators.Drift.edgesMulti(pages, named)
    // the scan base Runner builds: the input adorned with ONE broadcast
    // 1-row edge frame — exactly one partial+final agg pair feeds it, no
    // matter how many drift checks ride the suite
    val p = plan(pages.crossJoin(broadcast(fusedEdges)))
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs == 2,
      s"edges for BOTH drift checks must fuse into ONE agg pass:\n${p.take(1200)}")
    // fused values ≡ the per-check single-column aggregation
    val row = fusedEdges.collect()(0)
    for (((c, mn, w), _) <- named.zipWithIndex) {
      val e = graft.operators.Drift.edges(pages, c).collect()(0)
      assert(math.abs(row.getAs[Double](mn) - e.getDouble(0)) < 1e-12, mn)
      assert(math.abs(row.getAs[Double](w) - e.getDouble(1)) < 1e-12, w)
    }
  }

  test("referential anti-join broadcasts the dimension") {
    val pages = graft.sources.Pages.generate(spark, 1000)
    val hosts = graft.sources.Pages.hosts(spark)
    val p = plan(Referential.orphans(pages, hosts,
      ReferentialCheck("r", "host_id", "hosts", "host_id"), "url"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(800))
  }

  test("minhash signatures compute without any shuffle") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val sig = docs.select(col("doc_id"),
      TextFunctions.minhashSignature(col("text"), 3, 8).as("sig"))
    val p = plan(sig)
    assert(!p.contains("Exchange"), "per-row signature must be shuffle-free")
  }

  test("flagship categorical lineage shuffles counts, not raw rows, after the first agg") {
    val pages = graft.sources.Pages.generate(spark, 1000)
    val cells = graft.operators.CategoricalConsistency.cells(pages,
      graft.checks.CategoricalConsistencyCheck("cc", "lang", "host_bucket",
        dateCol = Some("warc_ts"), interval = "quarter"))
    val p = plan(cells)
    // the row-level aggregation appears exactly once (one shuffle of raw
    // rows); window totals ride the reduced counts frame
    val firstAgg = p.indexOf("partial_count")
    assert(firstAgg >= 0, p.take(500))
  }

  test("q14 dense numbering has no row-level window or single-partition exchange") {
    val df = SparkEntry.queries("q14_dense_rank")(spark, sf("sf0.001"))
    val p = plan(df)
    assert(!p.contains("Window"), "rank must ride the distinct-key frame, not a window")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "rank index must broadcast-join back")
    assert(!p.contains("SinglePartition"), p.take(900))
  }

  test("q23 OLS rides agg+broadcast, not Window.partitionBy(g)") {
    val p = plan(SparkEntry.queries("q23_ols_rstudent")(spark, sf("sf0.001")))
    assert(!p.contains("Window"), "sufficient stats must be a groupBy agg")
    assert(p.contains("BroadcastHashJoin"), "fit row must broadcast back")
  }

  test("longitudinal varcomp path: per-scope estimates stay distributed (no subject collect)") {
    import spark.implicits._
    val rows = (1 to 2000).flatMap(s => (1 to 3).map(t => (s"s$s", t.toDouble, s + t * 0.1)))
    val df = rows.toDF("subj", "visit", "v")
    val subjStats = df.groupBy(lit("k").as("__key"), col("subj"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"), sum(col("v") * col("v")).as("ss"))
    val est = graft.stats.VarComp.estimates(subjStats)
    // two-level aggregation: subject grain collapses to scope grain inside
    // the plan — the frame any consumer sees is one row per scope
    assert(est.count() == 1)
    val p = plan(est)
    assert(p.contains("HashAggregate"), p.take(400))
  }

  test("exactDropList ranks only the semi-joined duplicate subset, not the full table") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("id", "text")
    val p = plan(graft.operators.Dedup.exactDropList(docs, "id", "text"))
    val win = p.indexOf("Window")
    val semi = p.indexOf("LeftSemi")
    assert(win >= 0 && semi > win,
      s"the row_number window must sit above a LeftSemi candidate join " +
        s"(plan prints top-down):\n${p.take(1200)}")
  }

  test("multi-probe ANN explodes ONLY the broadcast query side; corpus stays single-cell") {
    import spark.implicits._
    val corpus = (1L to 500L).map(i => (i, Array.fill(8)(i * 0.1f))).toDF("id", "vec")
    val queries = (1L to 5L).map(i => (i + 1000L, Array.fill(8)(i * 0.2f))).toDF("id", "vec")
    val p = plan(graft.operators.Similarity.bucketedTopK(
      corpus, queries, "id", "vec", k = 3, bits = 8, probeHamming = 1))
    val generates = "Generate".r.findAllIn(p).size
    assert(generates == 1,
      s"exactly ONE explode (the (bits+1)× probe fan-out on the query side):\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), "cell join must broadcast the query side")
    // the explode must sit on the broadcast side: below BroadcastExchange
    val bx = p.indexOf("BroadcastExchange")
    val gen = p.indexOf("Generate")
    assert(bx >= 0 && gen > bx,
      "probe fan-out belongs to the broadcast (query) lineage, never the corpus")
  }

  test("near-dup surfaces: cached signature pass; near phase excludes exact drops (anti-join)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("id", "text")
    val (sig, drops, _) = graft.operators.Dedup.nearDupSurfaces(docs, "id", "text")
    try {
      val p = plan(drops)
      assert(p.contains("LeftAnti"),
        s"near candidates must anti-join away the exact-dropped ids:\n${p.take(1200)}")
      assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
        "both phases must ride the ONE cached (id, fp, sim) signature frame")
    } finally sig.unpersist()
  }

  test("keyscan phase 2 broadcasts the candidate set; the fat side never shuffles") {
    graft.engine.CacheTracker.scope {
      val pages = graft.sources.Pages.generate(spark, 2000)
      val p1 = graft.operators.KeyScan.phase1(pages, Seq("url"), "text")
      val p2 = graft.operators.KeyScan.phase2(pages, Seq("url"), "text", p1)
      val p = plan(p2)
      // static planning put a sort-merge semi-join here, whose full-table
      // exchange (payload included) materialized BEFORE AQE could convert
      // the join — the most expensive stage of the 30M-page suite legs
      // (BENCH/BASELINE.md round 5). The candidate frame is counted and
      // broadcast instead: no sort, no fat exchange.
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
        s"phase-2 semi-join must broadcast the candidates:\n${p.take(1200)}")
      assert(!p.contains("SortMergeJoin"),
        s"no sort-merge of the input against the tiny candidate set:\n${p.take(1200)}")
    }
  }

  test("un-panel scoring reads the CACHED residual panel (no double execution)") {
    import spark.implicits._
    graft.engine.CacheTracker.scope {
      val rows = (1 to 20).flatMap(s => (1 to 3).map(t => (s"s$s", t, 5.0 * t + s * 0.01)))
      val df = rows.toDF("subj", "visit", "y")
      val sc = graft.operators.UnPanelOutlier.scored(df,
        graft.operators.UnPanelOutlier.Config("unp", "y", "subj", "visit"))
      val p = plan(sc)
      assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
        s"scoring must ride the panel cache, not re-execute its lineage:\n${p.take(1200)}")
    }
  }

  test("regression-outlier flagging pass is UDF-free (broadcast cutoff join)") {
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    val f = graft.operators.RegressionOutlier.flagged(li,
      graft.checks.RegressionOutlierCheck("ro", "l_extendedprice", "l_orderkey",
        contCovariates = Seq("l_quantity"), scope = Seq("l_returnflag"),
        cutoffPct = 99.9, cookCutoff = Some(7.0)))
    val p = plan(f)
    assert(!p.contains("UDF"), s"flagging must be pure column arithmetic:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), "cutoffs must broadcast-join")
  }

  test("group-variance lineage plans no WindowExec and no sort of the residual frame") {
    graft.engine.CacheTracker.scope {
      val pages = graft.sources.Pages.generate(spark, 2000)
      val t = graft.operators.GroupVariance.tests(pages,
        graft.checks.GroupVarianceCheck("gv", "score", "host_bucket"))
      val p = plan(t)
      assert(!p.contains("Window"), s"no window over row frames:\n${p.take(1200)}")
      // medians merge on the reduced frame, per-group stats join back
      // broadcast, side stats hash-aggregate — nothing may sort rows
      assert(!p.contains("SortExec") && !p.contains("SortMergeJoin"),
        s"GV must not sort the row-proportional frame:\n${p.take(1200)}")
    }
  }

  test("longitudinal whitening joins subject stats back, no WindowExec") {
    graft.engine.CacheTracker.scope {
      val pages = graft.sources.Pages.generate(spark, 2000)
      val f = graft.operators.LongitudinalOutlier.flagged(pages,
        graft.checks.LongitudinalOutlierCheck("lo", "score", "host_id"))
      val p = plan(f)
      assert(!p.contains("Window"), s"no window over row frames:\n${p.take(1200)}")
    }
  }

  test("ddfm=betwithin p_w detection is a distributed two-stage agg, no window") {
    graft.engine.CacheTracker.scope {
      val pages = graft.sources.Pages.generate(spark, 2000)
      val f = graft.operators.LongitudinalOutlier.flagged(pages,
        graft.checks.LongitudinalOutlierCheck("lo", "score", "host_id",
          contCovariates = Seq("n_chars"), ddfm = "betwithin"))
      val p = plan(f)
      assert(!p.contains("Window"), s"no window in the betwithin lineage:\n${p.take(1200)}")
      // the per-subject range agg must partial-aggregate map-side (the
      // shuffle carries per-subject partials, never raw rows)
      assert(p.contains("HashAggregate"), "p_w detection rides hash aggregation")
    }
  }

  // ---- round-6 guards for the queries the round-5 verdict flagged as
  // contended-host regressions (q38–q42, q58): their plans were read as
  // broadcast-correct and scan-bound, but nothing asserted it — a real
  // plan regression (lost broadcast, surprise sort-merge/cartesian) now
  // fails CI instead of waiting for a bench JSON diff.

  test("q38 cosine near-dup: cell self-join broadcasts, no sort-merge/cartesian") {
    val p = plan(SparkEntry.queries("q38_cosine_neardup")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q39 scalar cross join rides a broadcast nested loop, never a shuffle") {
    val p = plan(SparkEntry.queries("q39_cross_join_scalar")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q40 count-distinct is a two-level hash aggregation, no window/sort-merge") {
    val p = plan(SparkEntry.queries("q40_count_distinct")(spark, sf("sf0.001")))
    assert(p.contains("HashAggregate"), p.take(800))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(800))
  }

  test("q41 weighted frequency partial-aggregates map-side below the shuffle") {
    val p = plan(SparkEntry.queries("q41_weighted_freq")(spark, sf("sf0.001")))
    val exchangeIdx = p.indexOf("Exchange")
    val partialIdx = p.indexOf("partial_sum")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial_sum must sit below the exchange (plan prints top-down):\n${p.take(1000)}")
  }

  test("q42 SD-rank joins the scalar frame back broadcast, no sort-merge") {
    val p = plan(SparkEntry.queries("q42_sd_rank")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q58 multi-probe ANN broadcasts the exploded query side (declared-query guard)") {
    val p = plan(SparkEntry.queries("q58_ann_multiprobe")(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
    val bx = p.indexOf("BroadcastExchange")
    val gen = p.indexOf("Generate")
    assert(bx >= 0 && gen > bx,
      "probe fan-out must sit on the broadcast (query) lineage")
  }

  test("simhash pair stage prefilters singleton buckets via broadcast semi-join") {
    import spark.implicits._
    graft.engine.CacheTracker.scope {
      val docs = (1L to 300L).map(i => (i, s"tok$i a b c")).toDF("id", "text")
      val sig = docs.select(col("id").cast("string").as("id"),
        graft.functions.SimHash64.ofText(col("text")).as("sim"))
      val (pairs, _) = graft.operators.Dedup.simhashPairsWithStats(sig)
      val p = plan(pairs)
      // the wide self-join sides must read the cached multi-bucket
      // membership, not re-run the 20x explode against the full frame
      assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
        s"pair sides must ride the cached membership frame:\n${p.take(1200)}")
      assert(!p.contains("SortMergeJoin"),
        s"no full-frame sort-merge in the pair stage:\n${p.take(1200)}")
    }
  }

  test("whole-stage codegen covers the hot scan→project paths") {
    // AQE wraps the plan lazily; force the final plan by executing
    val df = SparkEntry.queries("q01_agg_pricing")(spark, sf("sf0.001"))
    df.write.format("noop").mode("overwrite").save()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("WholeStageCodegen") ||
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).contains("WholeStageCodegen") ||
      { // fall back: inspect via codegen explain
        val s = df.queryExecution.explainString(
          org.apache.spark.sql.execution.CodegenMode)
        s.contains("WholeStageCodegen")
      }, "hot path must be codegen'd")
  }

  test("reduced-frame tails: ONE exchange above the cached reduced frame, no Window, no SortMergeJoin") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.checks._
    import graft.operators._
    // physical nodes down to the cached leaves (InMemoryTableScan is a leaf:
    // what lies below a cached frame ran when it was cached)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case n => n +: n.children.flatMap(nodes)
    }
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Boolean) = {
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.count(_.isInstanceOf[ShuffleExchangeExec]),
        ns.exists(n => n.isInstanceOf[WindowExec] || n.isInstanceOf[SortMergeJoinExec]))
    }
    graft.engine.CacheTracker.scope {
      val pages = graft.sources.Pages.generate(spark, 1000)
      val cat = CategoricalConsistencyCheck("cc", "lang", "host_bucket",
        dateCol = Some("warc_ts"), interval = "quarter")
      val dig = DigitPreferenceCheck("dp", "score", place = 0.1, groupCol = "host_id")
      val dr = DriftCheck("dr", "score", "warc_ts", interval = "quarter")
      val fams = Seq(CategoricalConsistency.cellFamily(cat), DigitPreference.cellFamily(dig),
        Drift.cellFamily(dr, "__dr0_mn", "__dr0_w"))
      val counts = CellScan.counts(
        pages.crossJoin(broadcast(Drift.edges(pages, dr, "__dr0_mn", "__dr0_w"))), fams)
      val pre = fams.indices.map(i => Some(CellScan.slice(counts, i, fams)))
      // each tail: exactly one exchange above the cached counts (planned
      // before the kernel frames are cached, which would substitute them)
      val tails = Seq(
        "categorical" -> CategoricalConsistency.tail(pre(0).get, cat, withPairs = false),
        "digit" -> DigitPreference.tail(pre(1).get, dig),
        "drift" -> Drift.tail(pre(2).get, dr))
      // GroupVariance's two tails, over cached frames of their input shape
      val perGrp = pages.select(lit("k").as("__key"), col("host_bucket").cast("string").as("__grp"),
          col("score")).groupBy("__key", "__grp")
        .agg(graft.stats.KllSketchAgg.sketch(col("score"), GroupVariance.SketchK).as("__sk"))
        .cache()
      val grpSums = perGrp.select(col("__key"), col("__grp"), lit(3L).as("n_g"),
        array(lit(1.0), lit(2.0)).as("arr"), array(col("__grp")).as("cmps")).cache()
      val gvTails = Seq("group-variance medians" -> GroupVariance.sideMedians(perGrp),
        "group-variance BF" -> GroupVariance.brownForsythe(grpSums))
      for ((name, t) <- tails ++ gvTails)
        assert(shape(t) == (1, false),
          s"$name tail must shuffle once, with no Window / SortMergeJoin:\n" +
            t.queryExecution.executedPlan.toString.take(1500))
      // the Runner's outputs read the cached kernel frame: no exchange at all
      val outs = Seq(
        CategoricalConsistency.outputs(pages, cat, pre(0)),
        DigitPreference.outputs(pages, dig, pre(1)),
        { val t = Drift.tests(pages, dr, pre(2)); (Drift.verdictsFrom(t, dr), Drift.violationsFrom(t, dr)) })
      for (((v, x), name) <- outs.zip(Seq("categorical", "digit", "drift")); o <- Seq(v, x))
        assert(shape(o) == (0, false), s"$name outputs must only project the cached kernel frame")
      perGrp.unpersist(); grpSums.unpersist()
    }
  }
}
