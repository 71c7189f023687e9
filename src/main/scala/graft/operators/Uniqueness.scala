package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{Results, UniquenessCheck}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-uniqueness at web scale — two-phase exact check.
  *
  * A single `groupBy(url)` would shuffle every row's full key (tens of
  * bytes × 10^12 rows). Instead:
  *
  *   phase 1: groupBy(xxhash64(keys)) with map-side partial counts — the
  *            shuffle carries 8-byte hashes + counts; candidate hash
  *            buckets are the ones with count > 1 (dup rate ~0.1% ⇒ the
  *            candidate set is tiny relative to input);
  *   phase 2: semi-join the input on candidate hashes (Catalyst/AQE picks
  *            broadcast when the candidate set is small, shuffled-hash
  *            otherwise) and run the EXACT groupBy(keys) on that subset —
  *            hash collisions are filtered here, so the result is exact.
  *
  * Skewed hot keys are exactly the keys reported; partial aggregation
  * collapses them to one row per map task, so no salting is needed for the
  * count itself.
  */
object Uniqueness {

  private def keyHash(check: UniquenessCheck): Column =
    xxhash64((check.scope ++ check.keys).map(col): _*)

  /** Candidate hash buckets (count > 1) — phase 1. */
  def candidateHashes(df: DataFrame, check: UniquenessCheck): DataFrame =
    df.groupBy(keyHash(check).as("__kh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select("__kh")

  /** Exact per-duplicate-key frame: keys, scope, dup count — phase 2.
    * @param shared pre-computed fused phase-2 frame (KeyScan.phase2) whose
    *               key columns equal this check's (scope ++ keys) — skips
    *               this check's own input re-scan entirely. */
  def duplicateKeys(df: DataFrame, check: UniquenessCheck,
      shared: Option[DataFrame] = None): DataFrame = {
    val groupCols = (check.scope ++ check.keys).distinct
    shared match {
      case Some(p2) => p2.select((groupCols :+ "dup_count").map(col): _*)
      case None =>
        val subset = df
          .withColumn("__kh", keyHash(check))
          .join(candidateHashes(df, check), Seq("__kh"), "left_semi")
        subset.groupBy(groupCols.map(col): _*)
          .agg(count(lit(1)).as("dup_count"))
          .filter(col("dup_count") > 1)
          .trackedCache() // tiny (duplicate keys only); verdicts + violations share it
    }
  }

  def verdicts(df: DataFrame, check: UniquenessCheck,
      shared: Option[DataFrame] = None): DataFrame = {
    val dups = duplicateKeys(df, check, shared)
    val scoped =
      if (check.scope.isEmpty) dups.groupBy()
      else dups.groupBy(check.scope.map(col): _*)
    val agg = scoped.agg(
      coalesce(sum(col("dup_count") - 1), lit(0L)).as("extra_rows"),
      count(lit(1)).as("dup_key_count"))
    val framed = agg.select(
      Results.partitionString(check.scope).as("partition"),
      lit("duplicate_extra_rows").as("metric"),
      col("extra_rows").cast("double").as("stat"),
      lit(check.maxDuplicates.toDouble).as("threshold"),
      col("dup_key_count").as("n_obs"),
      (col("extra_rows") <= check.maxDuplicates).as("pass"))
    // a scope with zero dups yields no agg row when scope is non-empty —
    // that's a pass-by-absence; global scope always yields one row.
    Results.toVerdicts(framed, check.id, check.severity)
  }

  /** (verdicts, violations) — the Runner's entry. */
  def outputs(df: DataFrame, check: UniquenessCheck,
      shared: Option[DataFrame]): (DataFrame, DataFrame) =
    (verdicts(df, check, shared), violations(df, check, shared = shared))

  def violations(df: DataFrame, check: UniquenessCheck, limit: Int = 10000,
      shared: Option[DataFrame] = None): DataFrame = {
    val v = duplicateKeys(df, check, shared).limit(limit).select(
      concat_ws("|", check.keys.map(c => col(c).cast("string")): _*).as("key"),
      Results.partitionString(check.scope).as("partition"),
      col("dup_count").cast("string").as("observed"),
      lit("1").as("expected"),
      lit("duplicate key").as("label"))
    Results.toViolations(v, check.id)
  }
}
