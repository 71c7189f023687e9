package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{ByteIdentityCheck, Results}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-identity audit (north-rule row invariant): the engine never
  * rewrites `text`; this check proves it by asserting one payload digest
  * per key.
  *
  * In a suite that also checks the same key's uniqueness, both checks
  * read the fused KeyScan (SharedScans): a key whose payloads diverge has
  * >1 row, so its bucket is among phase 1's `count > 1` candidates, and
  * ONE fused phase 2 counts each candidate key's distinct sha2-256
  * digests beside its row count.
  *
  * Alone, it runs two phases like Uniqueness: phase 1 groups by xxhash64(key) and detects
  * candidate buckets via min≠max of a 64-bit payload digest (min≠max ⟺
  * >1 distinct value — a single-level aggregation, no count-distinct
  * expand; the shuffle carries 16 bytes per distinct key). Phase 2
  * exact-verifies candidates with the full sha2-256 digest, so a reported
  * conflict is never a hash artifact. Missing a true divergence needs a
  * 64-bit digest collision on the same key — 2⁻⁶⁴ per pair, negligible
  * for a non-adversarial row-invariant audit, and the SAME exposure class
  * whether the 64 bits come from xxhash64 or a sha2 prefix — so phase 1
  * uses plain xxhash64 (measured ~3× cheaper per row than sha2-256 over
  * ~600 B payloads; phase 1 touches EVERY row, phase 2 only candidates).
  */
object ByteIdentity {

  private[operators] def digest64(c: org.apache.spark.sql.Column) =
    xxhash64(c)

  /** Candidate keys (phase 1): key-hash buckets whose payload digests are
    * not all identical (or that hold >1 key via collision — filtered in
    * phase 2). */
  def candidateHashes(df: DataFrame, check: ByteIdentityCheck): DataFrame =
    df.groupBy(xxhash64(col(check.keyCol)).as("__kh"))
      .agg(min(digest64(col(check.column))).as("__a"),
        max(digest64(col(check.column))).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .select("__kh")

  /** Exact conflicts (phase 2): keys whose payload bytes diverge.
    * @param shared pre-computed fused phase-2 frame (KeyScan.phase2) keyed
    *               by this check's keyCol — skips the input re-scan. */
  def conflicts(df: DataFrame, check: ByteIdentityCheck,
      shared: Option[DataFrame] = None): DataFrame = shared match {
    case Some(p2) => p2.filter(col("n_digests") > 1)
      .select(col(check.keyCol), col("n_digests"), col("dup_count").as("n_rows"))
    case None =>
      val subset = df
        .withColumn("__kh", xxhash64(col(check.keyCol)))
        .join(candidateHashes(df, check), Seq("__kh"), "left_semi")
      subset.groupBy(col(check.keyCol))
        .agg(countDistinct(sha2(col(check.column).cast("binary"), 256)).as("n_digests"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_digests") > 1)
        .trackedCache() // tiny (conflicting keys only); verdicts + violations share it
  }

  def verdicts(df: DataFrame, check: ByteIdentityCheck,
      shared: Option[DataFrame] = None): DataFrame = {
    val framed = conflicts(df, check, shared).groupBy().agg(
      coalesce(count(lit(1)), lit(0L)).as("bad_keys")).select(
      lit("").as("partition"),
      lit("keys_with_divergent_bytes").as("metric"),
      col("bad_keys").cast("double").as("stat"),
      lit(0.0).as("threshold"),
      col("bad_keys").as("n_obs"),
      (col("bad_keys") === 0).as("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  /** (verdicts, violations) — the Runner's entry. */
  def outputs(df: DataFrame, check: ByteIdentityCheck,
      shared: Option[DataFrame]): (DataFrame, DataFrame) =
    (verdicts(df, check, shared), violations(df, check, shared = shared))

  def violations(df: DataFrame, check: ByteIdentityCheck, limit: Int = 10000,
      shared: Option[DataFrame] = None): DataFrame = {
    val v = conflicts(df, check, shared).limit(limit).select(
      col(check.keyCol).cast("string").as("key"),
      lit("").as("partition"),
      col("n_digests").cast("string").as("observed"),
      lit("1").as("expected"),
      lit("text bytes diverge across rows of same key").as("label"))
    Results.toViolations(v, check.id)
  }
}
