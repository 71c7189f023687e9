package graft.engine

import graft.checks._
import graft.store.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The check runner: compiles a suite of Checks against one input table
  * into verdict + violation frames:
  *  - the input is pruned to the suite's referenced columns and cached
  *    once when the suite holds ≥ 3 checks;
  *  - SharedScans builds the scans several checks share (ColumnStats
  *    scope groups, the KeyScan pair, the CellScan group);
  *  - each check builds its own outputs from the input and its slice of
  *    the shared scans, on a small thread pool.
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

  /** Size of the pool that builds the checks concurrently. */
  private val BuildThreads = 8

  def run(df: DataFrame, suite: Suite): RunResult = run(df, suite, BuildThreads)

  /** `run` with the build pool sized `buildThreads` (1 builds in order on
    * the calling thread). */
  private[engine] def run(df: DataFrame, suite: Suite, buildThreads: Int): RunResult = {
    // collect (don't scope-release) the run's caches: the returned frames
    // are lazy, so they must stay cached until the caller materializes —
    // RunResult.release() is the explicit hand-off; an enclosing
    // CacheTracker.scope (runResumable) still frees them automatically
    val (result, caches) = CacheTracker.collect(runBody(df, suite, buildThreads))
    result.copy(caches = caches)
  }

  private def runBody(df: DataFrame, suite: Suite, buildThreads: Int): RunResult = {
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
    val needed = (checks.flatMap(_.referencedColumns) :+ suite.keyCol)
      .distinct.filter(df.columns.contains)
    val pruned = if (needed.size == df.columns.length) df else df.select(needed.map(col): _*)
    val input =
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
      else if (shouldCache) CacheTracker.cached(pruned)
      else pruned
    val shared = new SharedScans(input, checks, suite.refTables, suite.keyCol)

    // Several checks do EAGER driver-side work while building (the OLS
    // Gram collects, the dedup candidate counts, the variance-component
    // estimates) — at bench scale the full suite spent 19 s building
    // sequentially vs 16 s executing the unified action. The builds are
    // independent across checks, so they run on a small thread pool
    // (guide §2.6: actions are only sequential because the driver calls
    // them sequentially); results are collected in check order, so
    // verdict/violation frame content and order are IDENTICAL to the
    // sequential build. Worker-thread caches land in an isolated context
    // and are re-homed into this thread's scope, keeping the scope/collect
    // release discipline intact.
    // (Eagerly materializing each check's output frames inside the pool —
    // so the unified action reads only caches — was A/B'd and is NEUTRAL:
    // at bench scale the suite is bound by the box's memory bus across the
    // ~12 concurrent full-table passes, not by the unified action's
    // driver-side stage latency. Kept out for the simpler lazy contract.)
    def build(c: Check) = c.outputs(input, shared)
    val built: Seq[Option[(DataFrame, DataFrame)]] =
      if (buildThreads <= 1 || checks.size <= 1) checks.map(build)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(buildThreads, checks.size))
        // one frame sink per build, filled as the build caches — so the
        // caches of a build that throws, and of siblings still running or
        // already finished, are all re-homed into this thread's scope
        val sinks = checks.map(_ => new scala.collection.mutable.ListBuffer[DataFrame])
        try {
          val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
          val fs = checks.zip(sinks).map { case (c, sink) =>
            scala.concurrent.Future(CacheTracker.isolated(sink)(build(c)))(ec)
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
    val others = built.flatten

    val verdicts = (shared.columnStats ++ others.map(_._1))
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
