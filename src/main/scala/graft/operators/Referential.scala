package graft.operators

import graft.engine.CacheTracker.TrackedCacheOps
import graft.checks.{ReferentialCheck, Results}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-consistency check: anti-join against a dimension.
  *
  * The dimension side is distinct-projected to the single ref column before
  * the join; when it fits the broadcast threshold Catalyst plans a
  * BroadcastHashJoin(LeftAnti) — zero shuffle of the fact table. For huge
  * dimensions AQE falls back to shuffled hash/sort-merge with skew
  * splitting. We hint broadcast explicitly when the caller says the dim is
  * small (north-rule: "broadcast/shuffle anti-joins").
  */
object Referential {

  def orphans(df: DataFrame, ref: DataFrame, check: ReferentialCheck,
      keyCol: String, broadcastDim: Boolean = true): DataFrame = {
    val dim0 = ref.select(col(check.refColumn).as("__ref")).where(col("__ref").isNotNull).distinct()
    val dim = if (broadcastDim) broadcast(dim0) else dim0
    // project to the columns the verdict/violation surfaces need BEFORE
    // caching: orphan rows would otherwise cache full-width (html/text
    // payloads) — at a pathological orphan rate that is the whole table.
    // verdicts + violations build the IDENTICAL plan so the cache-manager
    // dedups them into one anti-join pass; MEMORY_AND_DISK spills the rest.
    val keep = (check.scope :+ check.column :+ keyCol).distinct
    df.where(col(check.column).isNotNull)
      .join(dim, col(check.column) === col("__ref"), "left_anti")
      .select(keep.map(col): _*)
      .trackedCache()
  }

  def verdicts(df: DataFrame, ref: DataFrame, check: ReferentialCheck,
      keyCol: String, broadcastDim: Boolean = true): DataFrame = {
    val o = orphans(df, ref, check, keyCol, broadcastDim)
    val scoped = if (check.scope.isEmpty) o.groupBy() else o.groupBy(check.scope.map(col): _*)
    val framed = scoped.agg(count(lit(1)).as("orphan_count")).select(
      Results.partitionString(check.scope).as("partition"),
      lit("orphan_rows").as("metric"),
      col("orphan_count").cast("double").as("stat"),
      lit(check.maxOrphans.toDouble).as("threshold"),
      col("orphan_count").as("n_obs"),
      (col("orphan_count") <= check.maxOrphans).as("pass"))
    Results.toVerdicts(framed, check.id, check.severity)
  }

  /** (verdicts, violations) — the Runner's entry. */
  def outputs(df: DataFrame, ref: DataFrame, check: ReferentialCheck,
      keyCol: String): (DataFrame, DataFrame) =
    (verdicts(df, ref, check, keyCol), violations(df, ref, check, keyCol))

  def violations(df: DataFrame, ref: DataFrame, check: ReferentialCheck,
      keyCol: String, limit: Int = 10000, broadcastDim: Boolean = true): DataFrame = {
    val v = orphans(df, ref, check, keyCol, broadcastDim).limit(limit).select(
      col(keyCol).cast("string").as("key"),
      Results.partitionString(check.scope).as("partition"),
      col(check.column).cast("string").as("observed"),
      lit(s"∈ ${check.refTable}.${check.refColumn}").as("expected"),
      lit("dangling reference").as("label"))
    Results.toViolations(v, check.id)
  }
}
