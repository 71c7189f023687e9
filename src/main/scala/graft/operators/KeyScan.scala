package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fused phase-1 key scan shared by Uniqueness and ByteIdentity.
  *
  * Both checks' first phase is a full-table `groupBy(xxhash64(key))`. Run
  * separately that is two full scans + two shuffles of the same 8-byte key
  * hashes; fused it is ONE pass over the key alone:
  *
  *   groupBy(xxhash64(key)).agg(count).filter(count > 1)
  *
  * A key whose payloads diverge has >1 row, so the `count > 1` buckets
  * hold every candidate either check needs. Each check's phase 2 stays
  * exact (full-key groupBy / full sha2-256), so the fusion changes cost,
  * not semantics.
  */
object KeyScan {

  /** Candidate sets up to this many 8-byte hashes (64 MB) are broadcast
    * into their phase-2 semi-join; larger ones keep the shuffled join.
    * Shared with Dedup's exact-duplicate phase. */
  private[operators] val BroadcastCandidatesMax = 8000000L

  /** One-pass candidate frame: (__kh, __n) for key-hash buckets with >1
    * row; reads only the key columns. Cached — verdicts + violations of
    * both checks reuse it. */
  def phase1(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(xxhash64(keyCols.map(col): _*).as("__kh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .trackedCache()

  /** Fused phase 2: because a key whose payloads diverge necessarily has
    * >1 row, its bucket is a phase-1 candidate — so ONE semi-join on the
    * phase-1 candidates and ONE exact groupBy(key) serves both checks'
    * second phase (run separately that is two full input scans + two
    * shuffles):
    *
    *   (key..., dup_count, n_digests) for every key with dup_count > 1
    *
    * dup_count is Uniqueness's exact per-key count (hash-collision rows
    * land in a candidate bucket but group to dup_count = 1 here and are
    * filtered — same exactness argument as the unfused phase 2);
    * n_digests counts distinct full sha2-256 payload digests, so a
    * reported byte conflict is never a 64-bit-hash artifact. Cached —
    * verdicts + violations of both checks reuse it.
    *
    * Join strategy is picked HERE, not left to the static planner: the
    * candidate frame is a filtered aggregate whose size Catalyst cannot
    * estimate, so the static plan is a sort-merge semi-join that shuffles
    * the ENTIRE input — and AQE materializes that exchange before it can
    * convert the join (measured: a 5.7 GB full-table exchange at 30 M
    * pages, the single most expensive stage in the suite). Phase 1 is
    * cached, so counting it is cheap; when the candidate set is small
    * (dup-rate bounded — the design point) it is broadcast and the big
    * side never shuffles. The fallback for candidate sets past
    * `BroadcastCandidatesMax` projects the fat payload down to its 32-byte sha2 digest
    * BEFORE the exchange, so even the sort-merge path never shuffles
    * payload bytes. */
  def phase2(df: DataFrame, keyCols: Seq[String], payloadCol: String,
      p1: DataFrame): DataFrame =
    phase2(df, keyCols, payloadCol, p1, BroadcastCandidatesMax)

  private[operators] def phase2(df: DataFrame, keyCols: Seq[String], payloadCol: String,
      p1: DataFrame, bcMax: Long): DataFrame = {
    val nCand = p1.count() // p1 is trackedCache'd — materialized once
    val joined =
      if (nCand <= bcMax)
        df.withColumn("__kh", xxhash64(keyCols.map(col): _*))
          .join(broadcast(p1.select("__kh")), Seq("__kh"), "left_semi")
          .select(keyCols.map(col) :+
            sha2(col(payloadCol).cast("binary"), 256).as("__dg"): _*)
      else
        df.select(keyCols.map(col) :+
            sha2(col(payloadCol).cast("binary"), 256).as("__dg"): _*)
          .withColumn("__kh", xxhash64(keyCols.map(col): _*))
          .join(p1.select("__kh"), Seq("__kh"), "left_semi")
          .drop("__kh")
    joined
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"),
        countDistinct(col("__dg")).as("n_digests"))
      .filter(col("dup_count") > 1)
      .trackedCache()
  }
}
