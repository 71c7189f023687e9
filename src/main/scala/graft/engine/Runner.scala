package graft.engine

import graft.checks._
import graft.operators._
import graft.store.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The check runner: compiles a suite of Checks against one input table
  * into verdict + violation frames, fusing where profitable
  * (SURVEY.md §4 loop-fusion note):
  *  - all ColumnStatsChecks with the same scope → ONE sketch-agg pass;
  *  - each other family is already a single-lineage plan;
  *  - the input is cached once when ≥ 3 check families will scan it.
  *
  * `runResumable` adds the north-rule checkpoint/resume: the input is
  * processed per unit (a partition column value, e.g. warc_ts quarter);
  * each completed unit commits its results + manifest line through
  * TableIO; a restarted run anti-joins pending units against the manifest
  * and only computes those. Verdicts are unit-local because each unit is
  * a separate `run` over `df.filter(unit)` — the checks' scopes do not
  * include the unit column — so resume ≡ fresh run (property-tested).
  */
object Runner {

  final case class Suite(
      checks: Seq[Check],
      refTables: Map[String, DataFrame] = Map.empty,
      keyCol: String = "url")

  final case class RunResult(verdicts: DataFrame, violations: DataFrame,
      private val caches: Seq[DataFrame] = Nil) {

    /** Unpersist every intermediate frame this run cached. Call AFTER
      * materializing verdicts/violations (they are lazy; a released lineage
      * recomputes from source). Plain `run` in a long-lived session (a
      * notebook) would otherwise accumulate row-proportional caches — the
      * resumable runner's per-unit scopes release them automatically, this
      * is the equivalent hand brake for direct callers. Idempotent. */
    def release(): Unit = caches.foreach(_.unpersist(blocking = false))

    /** Both outputs as ONE frame — a `kind` discriminator column over the
      * union (missing columns null-filled). Materializing this is ONE
      * Spark action instead of two: every check's stages schedule once,
      * and any shared-but-uncached lineage executes once. Sinks that
      * need separate tables write with `.partitionBy("kind")` — still one
      * action. */
    def unified: DataFrame =
      verdicts.withColumn("kind", lit("verdict"))
        .unionByName(violations.withColumn("kind", lit("violation")),
          allowMissingColumns = true)
  }

  def run(df: DataFrame, suite: Suite): RunResult = {
    // collect (don't scope-release) the run's caches: the returned frames
    // are lazy, so they must stay cached until the caller materializes —
    // RunResult.release() is the explicit hand-off; an enclosing
    // CacheTracker.scope (runResumable) still frees them automatically
    val (result, caches) = CacheTracker.collect(runBody(df, suite))
    result.copy(caches = caches)
  }

  private def runBody(df: DataFrame, suite: Suite): RunResult = {
    val spark = df.sparkSession
    // compile: schema validation + parameter defaulting (the reference's
    // %dataExist/%variableExist/%argumentCheck semantics) — structural
    // issues throw before any job runs
    val (checks, warnings) = graft.compile.CheckCompiler.compile(
      df, suite.checks, suite.refTables)
    warnings.foreach(wn => System.err.println(
      s"[graft] WARN check ${wn.checkId}: ${wn.kind} ${wn.detail}"))
    // spark.graft.cache.input=false lets a caller whose input scan should
    // be re-executed per pass (e.g. a deterministic generator standing in
    // for a cluster-scaling parquet scan) opt out of the input cache
    val shouldCache = checks.size >= 3 &&
      spark.conf.get("spark.graft.cache.input", "true").toBoolean
    // prune to the columns the suite actually reads before caching: the
    // design-scale input is dominated by payload columns no check touches
    // (html bytes), and caching them evicts the columns the checks DO scan
    // — the in-memory mirror of parquet ReadSchema pruning. If the CALLER
    // already cached the input, use it as-is: the in-memory columnar cache
    // serves per-pass column pruning at read time, and re-caching a pruned
    // copy would double the memory footprint.
    val needed = (checks.flatMap(graft.compile.CheckCompiler.referencedColumns) :+
      suite.keyCol).distinct.filter(df.columns.contains)
    val pruned = if (needed.size == df.columns.length) df else df.select(needed.map(col): _*)
    val input =
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
      else if (shouldCache) CacheTracker.cached(pruned)
      else pruned

    val colStats = checks.collect { case c: ColumnStatsCheck => c }
    val statsResults: Seq[DataFrame] = colStats.groupBy(_.scope).toSeq.map {
      case (_, cs) =>
        val profiled = ColumnStats.profile(input, cs)
        ColumnStats.verdicts(profiled, cs)
    }

    // Fuse uniqueness + byte-identity when they audit the same key: both
    // first phases are a full-table groupBy(xxhash64(key)) — KeyScan runs
    // it ONCE — and because divergent-digest buckets necessarily hold >1
    // row, ONE fused phase 2 (semi-join + exact groupBy(key) emitting
    // dup_count AND distinct-digest count) serves both checks' second
    // phase too: 4 full input scans become 2.
    val byteChecks = checks.collect { case c: ByteIdentityCheck => c }
    // lazy: KeyScan.phase2's broadcast decision runs an eager full-table
    // count — deferring construction moves that job into the parallel
    // build pool below (first uniqueness/byte-identity thunk computes it,
    // the sibling blocks on the lazy-val latch; all other checks overlap)
    lazy val fused: Map[String, (UniquenessCheck, ByteIdentityCheck, DataFrame)] =
      checks.collect {
        case u: UniquenessCheck =>
          byteChecks.collectFirst {
            case b if b.scope.isEmpty && (u.scope ++ u.keys).distinct == Seq(b.keyCol) =>
              val p1 = KeyScan.phase1(input, Seq(b.keyCol))
              (u.id, (u, b, KeyScan.phase2(input, Seq(b.keyCol), b.column, p1)))
          }
      }.flatten.toMap
    def uniqShared(c: UniquenessCheck): Option[DataFrame] =
      fused.get(c.id).map { case (_, _, p2) => p2 }
    def byteShared(c: ByteIdentityCheck): Option[DataFrame] =
      fused.values.collectFirst { case (_, b, p2) if b.id == c.id => p2 }

    // Fuse the count-based families (categorical / digit-preference /
    // drift): each is a `filter → derive keys → groupBy.count` over the
    // full input, so ≥2 of them become ONE CellScan pass + ONE shuffle.
    // Drift's bin edges ride the scan base as broadcast columns.
    val catChecks = checks.collect { case c: CategoricalConsistencyCheck => c }
    val digChecks = checks.collect { case c: DigitPreferenceCheck => c }
    val drChecks = checks.collect { case c: DriftCheck => c }
    val cellPre: Map[String, DataFrame] =
      if (catChecks.size + digChecks.size + drChecks.size < 2) Map.empty
      else {
        // ALL drift bin edges ride ONE broadcast 1-row frame (one
        // agg(min,max per column) pass) instead of one full scan per check
        var base = input
        val drFams =
          if (drChecks.isEmpty) Seq.empty
          else {
            val named = drChecks.zipWithIndex.map { case (c, i) =>
              (c, s"__dr${i}_mn", s"__dr${i}_w")
            }
            base = base.crossJoin(broadcast(Drift.edgesMulti(input, named)))
            named.map { case (c, mn, w) => c.id -> Drift.cellFamily(c, mn, w) }
          }
        val fams = catChecks.map(c => c.id -> CategoricalConsistency.cellFamily(c)) ++
          digChecks.map(c => c.id -> DigitPreference.cellFamily(c)) ++ drFams
        val counts = CellScan.counts(base, fams.map(_._2))
        fams.zipWithIndex.map { case ((id, _), i) =>
          id -> CellScan.slice(counts, i, fams.map(_._2))
        }.toMap
      }

    // one (verdicts, violations) builder per check family. Several of the
    // branches do EAGER driver-side work at construction time (the OLS
    // Gram collects, the dedup candidate counts, the variance-component
    // estimates) — at bench scale the full suite
    // spent 19 s building sequentially vs 16 s executing the unified
    // action. The builds are independent across checks, so they
    // run on a small thread pool (guide §2.6: actions are only sequential
    // because the driver calls them sequentially); results are collected
    // in check order, so verdict/violation frame content and order are
    // IDENTICAL to the sequential build. Worker-thread caches land in an
    // isolated context and are re-homed into this thread's scope, keeping
    // the scope/collect release discipline intact.
    val buildCheck: PartialFunction[Check, (DataFrame, DataFrame)] = {
      case c: UniquenessCheck =>
        (Uniqueness.verdicts(input, c, shared = uniqShared(c)),
          Uniqueness.violations(input, c, shared = uniqShared(c)))
      case c: ReferentialCheck =>
        val ref = suite.refTables.getOrElse(c.refTable,
          throw new IllegalArgumentException(s"missing refTable ${c.refTable}"))
        (Referential.verdicts(input, ref, c, suite.keyCol),
          Referential.violations(input, ref, c, suite.keyCol))
      // each reduced-frame family builds ONE cached kernel frame (one
      // exchange above its cell counts) and derives both outputs from it
      case c: CategoricalConsistencyCheck =>
        CategoricalConsistency.outputs(input, c, cellPre.get(c.id))
      case c: DigitPreferenceCheck =>
        DigitPreference.outputs(input, c, cellPre.get(c.id))
      // model families: build the (eager, Gram-collecting) tests/flagged
      // lineage ONCE and derive both outputs from it — separate
      // verdicts/violations calls would each re-run the driver-side OLS
      // collect pass
      case c: GroupVarianceCheck =>
        val t = GroupVariance.tests(input, c)
        (GroupVariance.verdictsFrom(t, c), GroupVariance.violationsFrom(t, c))
      // the flagged frames are consumed by TWO branches of the unified
      // action (verdict aggregation + violation filter); uncached, each
      // branch re-ran the full row pass (scan + broadcast-joined residual
      // arithmetic). Cache them PRUNED to the columns both outputs read —
      // row-proportional but narrow, MEMORY_AND_DISK spills at scale (the
      // reference materializes its residual datasets the same way).
      case c: RegressionOutlierCheck =>
        val cols = (Seq("__key", c.idCol, c.outcome, "rstudent", "cookd",
          "rstudent_cutoff", "flag_rstudent", "flag_cookd", "flag_outlier")).distinct
        val f = CacheTracker.cached(
          RegressionOutlier.flagged(input, c).select(cols.map(col): _*))
        (RegressionOutlier.verdictsFrom(f, c), RegressionOutlier.violationsFrom(f, c))
      case c: LongitudinalOutlierCheck =>
        val cols = (Seq("__key", c.idCol, c.outcome, "rscaled", "cutoff",
          "flag_outlier")).distinct
        val f = CacheTracker.cached(
          LongitudinalOutlier.flagged(input, c).select(cols.map(col): _*))
        (LongitudinalOutlier.verdictsFrom(f, c), LongitudinalOutlier.violationsFrom(f, c))
      // type=UN panel outliers: the scored frame is built ONCE and cached —
      // one row per (scope, subject) — so verdicts and violations share
      // the lineage instead of re-running the panel
      case c: UnPanelCheck =>
        val (dfp, cfg) = UnPanelOutlier.prepared(input, c)
        val sc = CacheTracker.cached(UnPanelOutlier.scored(dfp, cfg))
        (UnPanelOutlier.verdictsFrom(sc, cfg), UnPanelOutlier.violationsFrom(sc, cfg))
      case c: DriftCheck =>
        val t = Drift.tests(input, c, cellPre.get(c.id))
        (Drift.verdictsFrom(t, c), Drift.violationsFrom(t, c))
      case c: ByteIdentityCheck =>
        (ByteIdentity.verdicts(input, c, shared = byteShared(c)),
          ByteIdentity.violations(input, c, shared = byteShared(c)))
      // LLM-pipeline dedup as a first-class check: ONE narrow signature
      // pass (cached inside nearDupSurfaces) + a cached tiny drop frame
      // shared by both outputs
      case c: NearDupCheck =>
        val (sig, drops0, capStats) = Dedup.nearDupSurfaces(input, c.idCol,
          c.textCol, c.maxHamming, c.maxBucket)
        val drops = CacheTracker.cached(drops0)
        (Dedup.nearDupVerdictsFrom(sig, drops, capStats, c),
          Dedup.nearDupViolationsFrom(drops, c))
    }

    // (Eagerly materializing each check's output frames inside the pool —
    // so the unified action reads only caches — was A/B'd and is NEUTRAL:
    // at bench scale the suite is bound by the box's memory bus across the
    // ~12 concurrent full-table passes, not by the unified action's
    // driver-side stage latency. Kept out for the simpler lazy contract.)
    val buildThreads = spark.conf.get("spark.graft.build.threads", "8").toInt
    val buildable = checks.filter(buildCheck.isDefinedAt)
    val others: Seq[(DataFrame, DataFrame)] =
      if (buildThreads <= 1 || buildable.size <= 1) buildable.map(buildCheck)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(buildThreads, buildable.size))
        // one frame sink per build, filled as the build caches — so the
        // caches of a build that throws, and of siblings still running or
        // already finished, are all re-homed into this thread's scope
        val sinks = buildable.map(_ => new scala.collection.mutable.ListBuffer[DataFrame])
        try {
          val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
          val fs = buildable.zip(sinks).map { case (c, sink) =>
            scala.concurrent.Future(CacheTracker.isolated(sink)(buildCheck(c)))(ec)
          }
          fs.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
        } catch {
          case e: Throwable =>
            // queued builds never start their Spark jobs; running ones are
            // interrupted and given a bounded wait to finish caching
            pool.shutdownNow()
            pool.awaitTermination(2, java.util.concurrent.TimeUnit.MINUTES)
            throw e
        } finally {
          pool.shutdown()
          sinks.foreach(CacheTracker.registerAll)
        }
      }

    val verdicts = (statsResults ++ others.map(_._1))
      .reduceOption(_ unionByName _).getOrElse(Results.emptyVerdicts(spark))
    val violations = others.map(_._2)
      .reduceOption(_ unionByName _).getOrElse(Results.emptyViolations(spark))
    RunResult(verdicts, violations)
  }

  /** Checkpointed per-unit run. `unitCol` values partition the input; one
    * commit per unit. Returns the union of ALL completed units (prior +
    * this run) read back from the store.
    *
    * @param failAfterUnits test hook: abort after N units to exercise resume.
    */
  def runResumable(df: DataFrame, suite: Suite, stateRoot: String, unitCol: String,
      runId: String, failAfterUnits: Int = Int.MaxValue): RunResult = {
    val spark = df.sparkSession
    val hash = TableIO.checkHash(suite.checks.map(_.toString))
    val done = TableIO.completedUnits(stateRoot, hash)
    val unitValues = df.select(col(unitCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    // a null unit has no commit key and no filter that selects its rows
    if (unitValues.contains(null)) throw new IllegalArgumentException(
      s"runResumable: unit column '$unitCol' holds null values; every row needs a unit")
    val units = unitValues.sorted
    val pending = units.filterNot(done.contains)
    var processed = 0
    // each unit runs inside a CacheTracker scope: run() and its operators
    // plant unit-scoped caches (input projection, KeyScan/CellScan reduced
    // frames, candidate subsets, the GroupVariance residual frame) that are
    // dead once commitUnit has written the unit's outputs — over hundreds
    // of units an unreleased set would fill the storage pool with stale
    // entries and churn eviction. commitUnit materializes inside the scope;
    // the scope exit unpersists everything the unit cached.
    pending.foreach { unit =>
      if (processed < failAfterUnits) {
        CacheTracker.scope {
          val t0 = System.nanoTime()
          val slice = df.filter(col(unitCol).cast("string") === unit)
          val res = run(slice, suite)
          val vCount = CacheTracker.cached(res.verdicts).count()
          TableIO.commitUnit(stateRoot,
            TableIO.ManifestEntry(runId, unit, vCount, (System.nanoTime() - t0) / 1000000,
              hash, s"input@$unitCol=$unit", System.currentTimeMillis()),
            Map("verdicts" -> res.verdicts, "violations" -> res.violations))
        }
        processed += 1
      }
    }
    // read back ONLY units committed under THIS suite hash AND present in
    // the current input — a resume after the suite or input changed must
    // not union stale incompatible state (round-1 ADVICE fix)
    val valid = TableIO.completedUnits(stateRoot, hash).intersect(units.toSet)
    RunResult(
      TableIO.readUnitData(spark, stateRoot, "verdicts", Some(valid))
        .getOrElse(Results.emptyVerdicts(spark)).drop("unit"),
      TableIO.readUnitData(spark, stateRoot, "violations", Some(valid))
        .getOrElse(Results.emptyViolations(spark)).drop("unit"))
  }
}
