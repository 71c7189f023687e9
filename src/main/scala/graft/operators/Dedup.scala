package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{NearDupCheck, Results}
import graft.functions.{SimHash64, TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for web-text corpora — exact, MinHash+LSH, SimHash
  * and n-gram-Jaccard near-dup. All candidate generation is bucket-local:
  * signatures are computed per-row (no shuffle), candidates pair up only
  * inside an LSH band bucket / simhash prefix bucket, so the shuffle
  * carries (doc, bucket) pairs — never the O(n²) cross product.
  */
object Dedup {

  /** Bound on the per-group id sample in `exactGroups`: one degenerate hot
    * fingerprint (e.g. empty text over a 10^12-row corpus) must not build
    * a multi-million-element array anywhere — not in the result row and
    * not in an aggregation buffer. */
  val MaxSampleIds = 100

  /** Default per-bucket membership cap for the bucket-local self-joins:
    * a boilerplate-heavy bucket (the same cookie banner on 10⁷ pages)
    * would otherwise pair quadratically. Buckets are truncated to the
    * first `DefaultMaxBucket` members by id — deterministic, bounds the
    * worst bucket at cap² pairs; the truly identical members of a hot
    * bucket are exact-dups and caught by `exactGroups` regardless.
    * Documented recall tradeoff, tunable per call. */
  val DefaultMaxBucket = 5000

  /** Keep at most `cap` rows per bucket, deterministically (ordered by
    * `orderCol`).
    *
    * In a healthy corpus almost no bucket exceeds the cap, so ranking
    * EVERY row (a full-width sort-shuffle of the exploded frame) is pure
    * overhead. Instead: one narrow count aggregation finds the hot
    * buckets; only THEIR rows (≤ a tiny fraction) pay the row_number
    * sort, everything else passes through a map-side broadcast anti-join
    * with no extra shuffle. The hot-bucket list is provably broadcastable:
    * at most n/cap keys can exceed the cap. */
  private[operators] def capBucket(df: DataFrame, bucketCol: String,
      orderCol: String, cap: Int): DataFrame =
    capBucketWithStats(df, bucketCol, orderCol, cap)._1

  /** `capBucket` plus a one-row stats frame (n_capped_buckets,
    * n_capped_rows = members dropped by truncation) so callers can SURFACE
    * the documented recall tradeoff instead of truncating silently —
    * at 100 TB an adversarial/boilerplate corpus hits the cap hard and the
    * verdict reader needs to see it. The hot-bucket frame is tiny (≤ n/cap
    * keys) and cached: it feeds both joins and the stats agg.
    *
    * The hot-bucket count is materialized here anyway (it is the tracked
    * cache), so the healthy-corpus case — NO bucket over the cap, measured
    * max bucket 14 vs cap 5000 on the 2 M-page bench fixture — is known at
    * build time, and the cap plumbing is dropped from the plan entirely:
    * `df` passes through untouched. That matters because callers SELF-JOIN
    * the result (simhashPairsWithStats): Catalyst materializes common
    * subplans per reference, so every plan node here used to execute once
    * per join side — with the anti/semi/window machinery that was five
    * executions of the 20×-exploded frame (count + cold + capped, ×2
    * sides minus the shared cache) for a cap that cut nothing. With the
    * fast path the self-join re-executes only the ALU-cheap explode. */
  private[operators] def capBucketWithStats(df: DataFrame, bucketCol: String,
      orderCol: String, cap: Int): (DataFrame, DataFrame) = {
    val hotFull = df.groupBy(bucketCol).agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > cap)
      .trackedCache()
    val hot = hotFull.select(bucketCol)
    val stats = hotFull.agg(
      count(lit(1)).as("n_capped_buckets"),
      coalesce(sum(col("__bc") - cap), lit(0L)).as("n_capped_rows"))
    if (hotFull.isEmpty) return (df, stats)
    val cold = df.join(broadcast(hot), Seq(bucketCol), "left_anti")
    val capped = df.join(broadcast(hot), Seq(bucketCol), "left_semi")
      .withColumn("__bn",
        row_number().over(Window.partitionBy(bucketCol).orderBy(col(orderCol))))
      .filter(col("__bn") <= cap)
      .drop("__bn")
    (cold.unionByName(capped.select(cold.columns.map(col): _*)), stats)
  }

  /** Pre-filter an exploded (row, bucket) frame down to the rows that can
    * actually PAIR, and truncate hot buckets — the shared front end of the
    * bucket-local self-joins (guide §8 "decide with small rows, move the
    * payload once").
    *
    * ONE narrow (bucket → count) aggregation over the bucket column alone
    * carries both decisions: count > 1 → the row's bucket can emit a pair
    * at all (singleton buckets — ~99.5% of an exploded simhash frame on a
    * healthy corpus — are dropped BEFORE the wide self-join exchanges, via
    * a broadcast semi-join on the tiny multi-bucket key set); count > cap
    * → the bucket is hot and is truncated to its first `cap` members by
    * `orderCol` (same documented recall tradeoff as before, surfaced in
    * the returned one-row stats frame). When the multi-bucket key set is
    * too large to broadcast (adversarial corpus), the membership filter is
    * skipped — the downstream self-join still computes the same pairs,
    * just without the singleton short-circuit. */
  private[operators] def pairableWithStats(df: DataFrame, bucketCol: String,
      orderCol: String, cap: Int): (DataFrame, DataFrame) = {
    val multi = df.select(bucketCol)
      .groupBy(bucketCol).agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > 1)
      .trackedCache()
    val hotFull = multi.filter(col("__bc") > cap)
    val stats = hotFull.agg(
      count(lit(1)).as("n_capped_buckets"),
      coalesce(sum(col("__bc") - cap), lit(0L)).as("n_capped_rows"))
    // on the broadcast path the surviving membership frame is tiny (~1% of
    // the exploded rows on the bench corpus) — cache it so the self-join's
    // TWO sides read it instead of each re-running the 20× explode + semi
    // probe over the full frame (MEMORY_AND_DISK: an adversarial corpus
    // spills instead of OOMing, bounded by what the old path shuffled)
    val broadcastPath = multi.count() <= MaxBroadcastPairBuckets
    val pre =
      if (broadcastPath)
        df.join(broadcast(multi.select(bucketCol)), Seq(bucketCol), "left_semi")
          .trackedCache()
      else df
    val out =
      if (hotFull.isEmpty) pre
      else {
        val hot = hotFull.select(bucketCol)
        val cold = pre.join(broadcast(hot), Seq(bucketCol), "left_anti")
        val capped = pre.join(broadcast(hot), Seq(bucketCol), "left_semi")
          .withColumn("__bn", row_number().over(
            Window.partitionBy(bucketCol).orderBy(col(orderCol))))
          .filter(col("__bn") <= cap)
          .drop("__bn")
        cold.unionByName(capped.select(cold.columns.map(col): _*))
      }
    (out, stats)
  }

  /** Exact duplicate groups by normalized-text fingerprint.
    * Returns (fingerprint, n_docs, keep_id, all_ids) where all_ids is the
    * first `MaxSampleIds` ids by id order (n_docs carries the true count).
    *
    * Two phases so the id list is bounded end to end: phase 1 is the plain
    * partial hash-agg (count + min only — fixed-size buffers, md5 keys are
    * uniform → no skew); phase 2 semi-joins the duplicate rows (tiny
    * subset) and samples ≤ MaxSampleIds ids per group via a capped
    * row_number — the hot group sorts/spills, it never materializes an
    * unbounded array. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("fp", TF.fingerprint(col(textCol)))
    val groups = withFp.groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    val sample = withFp
      .join(groups.select("fp"), Seq("fp"), "left_semi")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= MaxSampleIds)
      .groupBy("fp")
      .agg(sort_array(collect_list(col(idCol))).as("all_ids"))
    groups.join(sample, Seq("fp"))
      .select("fp", "n_docs", "keep_id", "all_ids")
  }

  /** Rows to drop under exact dedup (everything but the min id per group).
    *
    * Two phases like `exactGroups`: phase 1 is a plain partial hash-agg
    * finding duplicate fingerprints (fixed-size buffers), phase 2 semi-joins
    * the duplicate rows — a tiny subset of a web corpus — and ranks only
    * those. A single row_number window over the full table would sort-shuffle
    * ALL rows, including the ~99.9% singleton groups that can never appear
    * in the drop list. */
  def exactDropList(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("fp", TF.fingerprint(col(textCol)))
    val dupFps = withFp.groupBy("fp")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).select("fp")
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    withFp
      .join(dupFps, Seq("fp"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col(idCol).as("drop_id"), col("fp"))
  }

  /** MinHash+LSH near-duplicate candidate pairs with estimated Jaccard.
    *
    * shingle → k-min signature (per-row) → band keys → explode(bands) →
    * self-join within band bucket → distinct pairs → signature-agreement
    * estimate; optionally verified with exact n-gram Jaccard.
    *
    * @param bands × rowsPerBand = signature length k.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      minEstJaccard: Double = 0.5, verifyExact: Boolean = true,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val k = bands * rowsPerBand
    // cache the signature frame: Catalyst's project-collapse would otherwise
    // re-inline the k-hash signature expression into every band element and
    // both join sides — k× redundant md5 work and enormous codegen. At
    // production scale this frame is written to the table store instead.
    val sig0 = df
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sig", TF.minhashSignature(col("text"), shingleN, k))
      .trackedCache()
      .withColumn("band", explode(TF.lshBands(col("sig"), bands, rowsPerBand)))
    val sig = pairableWithStats(sig0, "band", "id", maxBucket)._1
    val a = sig.select(col("band"), col("id").as("id_a"), col("sig").as("sig_a"),
      col("text").as("text_a"))
    val b = sig.select(col("band"), col("id").as("id_b"), col("sig").as("sig_b"),
      col("text").as("text_b"))
    val est = a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / lit(k.toDouble))
      .filter(col("est_jaccard") >= minEstJaccard)
    val out =
      if (verifyExact)
        est.withColumn("jaccard", TF.ngramJaccard(col("text_a"), col("text_b"), shingleN))
      else est.withColumn("jaccard", lit(null).cast("double"))
    out.select("id_a", "id_b", "est_jaccard", "jaccard")
  }

  /** SimHash near-dup candidates with GUARANTEED recall at the Hamming
    * threshold — see `simhashPairs` for the block-combination pigeonhole
    * construction and its scale properties. Candidate volume stays
    * bucket-local: the shuffle carries (row, combo-key) pairs, never a
    * cross product; hot buckets are capped (documented recall tradeoff
    * under adversarial boilerplate). */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sig = df.select(col(idCol).as("id"), SimHash64.ofText(col(textCol)).as("sim"))
    simhashPairs(sig, maxHamming, maxBucket)
  }

  /** First-class NearDupCheck surfaces: ONE narrow signature pass
    * (id, fp, sim — cached; at production scale persisted to the table
    * store), then the exact two-phase drop list and the pigeonhole simhash
    * pairs ride it without re-scanning the input. Returns (sig, drops):
    *  - sig: one row per input row (id, fp, sim);
    *  - drops: one row per dropped id — (drop_id, reason∈{exact,near},
    *    dup_of = the kept id it duplicates, hamming).
    * Exact-dropped rows are excluded from near-pair generation (identical
    * text pairs at Hamming 0 are already dropped by the exact phase), so an
    * id appears at most once. Near-dup losers follow the keep-min-id
    * convention: in every qualifying pair the larger id drops. */
  def nearDupSurfaces(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket)
      : (DataFrame, DataFrame, DataFrame) = {
    val sig = df.select(col(idCol).cast("string").as("id"),
        TF.fingerprint(col(textCol)).as("fp"),
        SimHash64.ofText(col(textCol)).as("sim"))
      .trackedCache()
    val exactDrops = exactDropsOf(sig)
    // near candidates over the exact-deduped survivors only
    val nearInput = sig.join(exactDrops.select(col("drop_id").as("id")),
      Seq("id"), "left_anti")
    val (pairs, capStats) =
      simhashPairsWithStats(nearInput.select("id", "sim"), maxHamming, maxBucket)
    val nearDrops = pairs
      .groupBy(col("id_b").as("drop_id"))
      .agg(min(struct(col("hamming"), col("id_a"))).as("__m"))
      .select(col("drop_id"), lit("near").as("reason"),
        col("__m.id_a").as("dup_of"), col("__m.hamming").as("hamming"))
    (sig, exactDrops.unionByName(nearDrops), capStats)
  }

  /** The exact-duplicate drops of a signature frame with `id` and `fp`: one
    * row per non-keeper (drop_id, "exact", dup_of = the min id of its
    * fingerprint group, hamming 0). Cached. */
  private[operators] def exactDropsOf(sig: DataFrame,
      bcMax: Long = KeyScan.BroadcastCandidatesMax): DataFrame = {
    // two-phase dup-fingerprint detection (KeyScan's shape): phase 1
    // groups on xxhash64(fp) so the full-table exchange carries 8-byte
    // keys instead of 32-char md5 hex strings; the rare 64-bit collision
    // admits a singleton-fp row into the candidate set, where the exact
    // fp-partitioned window below ranks it __rn = 1 → never dropped, so
    // the result is exactly the old groupBy(fp) semantics.
    val dupFps = sig.select(xxhash64(col("fp")).as("__fph"))
      .groupBy("__fph")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).select("__fph")
      .trackedCache()
    // broadcast the candidate hash set when the dup rate is bounded (the
    // design point — KeyScan.phase2's guard, same threshold); an
    // adversarial all-duplicate corpus keeps the shuffled semi-join
    val dupSide = if (dupFps.count() <= bcMax) broadcast(dupFps) else dupFps
    val w = Window.partitionBy("fp").orderBy(col("id"))
    val exact = sig.withColumn("__fph", xxhash64(col("fp")))
      .join(dupSide, Seq("__fph"), "left_semi").drop("__fph")
      .withColumn("__rn", row_number().over(w))
      .withColumn("__keep", first("id").over(w))
    // cache the tiny drop frame (duplicate rows only — bounded by the dup
    // rate): it feeds the near phase's anti-join, whose exploded frame is
    // consumed by THREE plan branches (the multi-bucket count, and both
    // pair-join sides) — uncached, each branch re-ran the full-table
    // dupFps aggregation + window (measured 3 × ~2.7 s at 2 M pages).
    exact.filter(col("__rn") > 1)
      .select(col("id").as("drop_id"), lit("exact").as("reason"),
        col("__keep").as("dup_of"), lit(0).as("hamming"))
      .trackedCache()
  }

  /** NearDupCheck (verdicts, violations): both ride ONE narrow signature
    * pass (cached inside nearDupSurfaces) and ONE cached tiny drop frame. */
  def outputs(df: DataFrame, check: NearDupCheck): (DataFrame, DataFrame) = {
    val (sig, drops0, capStats) = nearDupSurfaces(df, check.idCol, check.textCol,
      check.maxHamming, check.maxBucket)
    val drops = drops0.trackedCache()
    (nearDupVerdictsFrom(sig, drops, capStats, check), nearDupViolationsFrom(drops, check))
  }

  /** NearDupCheck verdicts: TWO rows, both riding the cached surfaces (no
    * input re-scan) —
    *  - `dup_fraction`: drop fraction vs maxDupFrac;
    *  - `capped_buckets`: how many candidate buckets hit the `maxBucket`
    *    truncation cap (stat) and how many members were cut (n_obs). The
    *    cap's recall loss was previously SILENT; a fail here means "near-dup
    *    recall is not guaranteed on this corpus — raise maxBucket or
    *    pre-strip the boilerplate", which is exactly what an operator at
    *    the 10^12-doc grain needs to see before trusting dup_fraction. */
  def nearDupVerdictsFrom(sig: DataFrame, drops: DataFrame, capStats: DataFrame,
      check: NearDupCheck): DataFrame = {
    val total = sig.agg(count(lit(1)).cast("double").as("n_total"))
    val d = drops.agg(count(lit(1)).cast("double").as("n_drop"))
    val framed = total.crossJoin(broadcast(d)).select(
      lit("").as("partition"),
      lit("dup_fraction").as("metric"),
      (col("n_drop") / greatest(col("n_total"), lit(1.0))).as("stat"),
      lit(check.maxDupFrac).as("threshold"),
      col("n_total").cast("long").as("n_obs"),
      (col("n_drop") / greatest(col("n_total"), lit(1.0)) <= check.maxDupFrac).as("pass"))
    val capped = capStats.select(
      lit("").as("partition"),
      lit("capped_buckets").as("metric"),
      col("n_capped_buckets").cast("double").as("stat"),
      lit(0.0).as("threshold"),
      col("n_capped_rows").cast("long").as("n_obs"),
      (col("n_capped_buckets") === 0).as("pass"))
    Results.toVerdicts(framed.unionByName(capped), check.id, check.severity)
  }

  /** NearDupCheck violations: one row per dropped id. */
  def nearDupViolationsFrom(drops: DataFrame, check: NearDupCheck): DataFrame =
    Results.toViolations(drops.select(
      col("drop_id").as("key"),
      lit("").as("partition"),
      concat(col("reason"), lit(" duplicate of "), col("dup_of")).as("observed"),
      lit("unique content").as("expected"),
      concat(lit("hamming="), col("hamming").cast("string"),
        lit(", policy=keep-min-id")).as("label")), check.id)

  /** Pair generation over a prebuilt (id, sim) signature frame — reusable
    * when signatures are precomputed/materialized (the production shape).
    *
    * Block-COMBINATION pigeonhole (the Manku/Jain/Sarma web-dedup
    * construction): the 64-bit simhash is cut into `maxHamming + 3`
    * disjoint blocks; a pair at Hamming ≤ maxHamming corrupts at most
    * maxHamming blocks, so at least 3 blocks agree exactly — keying each
    * row once per 3-block combination (C(maxHamming+3, 3) keys of
    * 3·64/(maxHamming+3) ≈ 32 bits) therefore recovers EVERY qualifying
    * pair, like the plain (maxHamming+1)-block split, but with ~32-bit
    * bucket keys instead of ~16-bit ones. That key width is the scale
    * lever: expected bucket collisions fall from O(n²/2¹⁶) — ~120 M
    * candidate pairs at n = 2 M, quadratic death at 10⁹ — to O(n²/2³²),
    * at the linear cost of C(maxHamming+3,3)× exploded rows (20× for
    * Hamming ≤ 3). Hot buckets (true boilerplate clusters) are still
    * capped (documented recall tradeoff). */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    simhashPairsWithStats(sig, maxHamming, maxBucket)._1

  /** Cap on the number of multi-occupancy combo buckets the pair join may
    * BROADCAST as its membership pre-filter (8 bytes each → ≤ ~32 MB
    * framed). A healthy corpus sits orders of magnitude below this (202 k
    * multi buckets at 2 M pages); past it the join falls back to the full
    * bucket shuffle, which stays correct at any scale. */
  val MaxBroadcastPairBuckets = 4000000L

  /** `simhashPairs` plus the one-row bucket-cap stats frame (see
    * `capBucketWithStats`) for callers that surface truncation.
    *
    * Pair-stage shape (round-6 rework, guide §8 "decide with small rows"):
    * ~99.5% of combo buckets hold ONE row (measured: 39.6 M of 39.8 M at
    * 2 M pages, max bucket 14) and a singleton bucket can never emit a
    * pair, yet the old self-join shuffled and SORTED the full 20×-exploded
    * frame TWICE (id + sim payload on every row) just to discard the
    * singletons at the merge. Now ONE narrow aggregation over the bucket
    * column alone finds the multi-occupancy buckets (the same aggregation
    * the hot-bucket cap already needed — it is computed once and serves
    * both), the tiny multi-bucket key set broadcasts back as a semi-join
    * membership filter, and only the surviving ~1% of exploded rows enter
    * the self-join. The wide exchanges shrink from 2 × 40 M rows to
    * 2 × ~400 k, and the 40 M-row sort disappears entirely (the narrow
    * count aggregation is hash-based). Measured 26.0 s → (see
    * OPTIMIZATION_r06.md) on the 2 M-page pair stage. An adversarial
    * corpus with > `MaxBroadcastPairBuckets` multi buckets keeps the old
    * full-shuffle join (correct, never collects the key set). */
  def simhashPairsWithStats(sig: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): (DataFrame, DataFrame) = {
    val nBlocks = maxHamming + 3 // ≥ 3 clean blocks per qualifying pair
    val width = 64 / nBlocks
    def blockBits(i: Int): org.apache.spark.sql.Column = {
      val lo = i * width
      val w = if (i == nBlocks - 1) 64 - lo else width // last absorbs the remainder
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("sim"), lo).bitwiseAND(lit(mask))
    }
    def blockWidth(i: Int): Int = if (i == nBlocks - 1) 64 - i * width else width
    val combos = (0 until nBlocks).combinations(3).toSeq
    // ONE long per key — (combo index << comboWidth) | concatenated block
    // bits — instead of a struct(blk, bits): bits < 2^comboWidth for every
    // combo, so the packing is bijective and bucket membership is
    // unchanged; the exploded exchange/sort then moves an 8-byte primitive
    // instead of a 16-byte+ struct, which was most of what the pair stage
    // shuffled (measured 6.8 → 0.7 s for the 40 M-row explode pass at 2 M
    // pages). maxHamming = 0 degenerates to ONE 64-bit combo (the whole
    // simhash) with no index bits — the lone key is the bits themselves.
    val comboWidth = combos.map(_.map(blockWidth).sum).max
    val ciBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(combos.size - 1, 0).toLong)
    require(ciBits + comboWidth <= 64,
      s"combo-index bits $ciBits + combo bits $comboWidth exceed one long")
    val keys = combos.zipWithIndex.map { case (combo, ci) =>
      val bits = combo.foldLeft(lit(0L)) { (acc, bi) =>
        shiftleft(acc, blockWidth(bi)).bitwiseOR(blockBits(bi))
      }
      if (ciBits == 0) bits
      else shiftleft(lit(ci.toLong), comboWidth).bitwiseOR(bits)
    }
    val exploded0 = sig.select(col("id"), col("sim"),
      explode(array(keys: _*)).as("bucket"))
    val (exploded, capStats) = pairableWithStats(exploded0, "bucket", "id", maxBucket)
    val a = exploded.select(col("bucket"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = exploded.select(col("bucket"), col("id").as("id_b"), col("sim").as("sim_b"))
    val pairs = a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", SimHash64.hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b") // a pair may agree on several combos
    (pairs, capStats)
  }
}
