package graft.operators

import graft.checks.{ColumnStatsCheck, Results}
import graft.stats.KllSketchAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass per-column profile + threshold verdicts.
  *
  * ALL ColumnStatsChecks sharing a scope fuse into ONE aggregation pass
  * (SURVEY.md §4 "fuse all per-column stats checks"): for each checked
  * column the pass computes count/nulls/min/max/mean/stddev, an HLL distinct
  * sketch (builtin hll_sketch_agg — mergeable binary) and a KLL quantile
  * sketch (custom mergeable aggregate). The grouped result is KB-sized per
  * partition; quantile extraction and verdict logic run on that reduced
  * frame, never on raw rows. At 10^12 rows this is one shuffle of
  * (scope-cardinality × checked-columns) sketch rows.
  */
object ColumnStats {

  /** Per-scope fused stats frame: one row per scope tuple, one struct per column. */
  def profile(df: DataFrame, checks: Seq[ColumnStatsCheck]): DataFrame = {
    require(checks.nonEmpty)
    val scope = checks.head.scope
    require(checks.forall(_.scope == scope), "fuse only within one scope")
    val aggs: Seq[Column] = checks.flatMap { c =>
      val v = col(c.column)
      val num = v.cast("double")
      Seq(
        count(lit(1)).as(s"${c.column}__n"),
        count(v).as(s"${c.column}__n_nonnull"),
        min(num).as(s"${c.column}__min"),
        max(num).as(s"${c.column}__max"),
        avg(num).as(s"${c.column}__mean"),
        stddev_samp(num).as(s"${c.column}__std"),
        approx_count_distinct(v).as(s"${c.column}__distinct"),
        KllSketchAgg.sketch(num).as(s"${c.column}__kll"))
    }
    val deduped = aggs.groupBy(_.toString).map(_._2.head).toSeq // same col in 2 checks → once
    val grouped =
      if (scope.isEmpty) df.groupBy() else df.groupBy(scope.map(col): _*)
    grouped.agg(deduped.head, deduped.tail: _*)
      .withColumn("partition", Results.partitionString(scope))
  }

  /** Verdicts for every bound asserted by every check, from the profiled
    * frame — ONE projection of it: each profile row emits all its bound
    * rows through `inline(array(struct(...)))`. (A union of one projection
    * per bound let the optimizer prune each branch's aggregate to the
    * columns it read, so the branches shared no exchange and each scanned
    * the input again.) The KLL quantile UDF runs once per quantile bound,
    * in a projection below the generator, feeding both `stat` and `pass`. */
  def verdicts(profiled: DataFrame, checks: Seq[ColumnStatsCheck]): DataFrame = {
    val qUdf = udf((bytes: Array[Byte], q: Double) =>
      if (bytes == null) Double.NaN else KllSketchAgg.quantiles(bytes, Array(q))(0))
    val quantiles = checks.flatMap(c => c.quantileBounds.map(b => (c.column, b._1))).distinct
    val withQ = profiled.select(col("*") +: quantiles.zipWithIndex.map { case ((c, q), i) =>
      qUdf(col(s"${c}__kll"), lit(q)).as(s"__q$i")
    }: _*)
    val rows = checks.flatMap { c =>
      def stat(name: String) = col(s"${c.column}__$name")
      val (n, nn, mn, mx, nd) =
        (stat("n"), stat("n_nonnull"), stat("min"), stat("max"), stat("distinct"))
      // one verdict row, fields in Results.verdictSchema order
      def row(metric: String, value: Column, threshold: Double, nObs: Column, pass: Column) =
        struct(lit(c.id).as("check_id"), col("partition"), pass.as("pass"),
          lit(metric).as("metric"), value.cast("double").as("stat"),
          lit(null).cast("double").as("p_value"), lit(threshold).as("threshold"),
          nObs.cast("long").as("n_obs"), lit(c.severity).as("severity"))
      val missing = lit(1.0) - nn / n
      c.maxMissingFrac.map(thr => row("missing_frac", missing, thr, n, missing <= thr)) ++
        c.minAllowed.map(lo => row("min", mn, lo, nn, mn.isNull || mn >= lo)) ++
        c.maxAllowed.map(hi => row("max", mx, hi, nn, mx.isNull || mx <= hi)) ++
        c.minDistinct.map(lo => row("distinct_min", nd, lo.toDouble, nn, nd >= lo)) ++
        c.maxDistinct.map(hi => row("distinct_max", nd, hi.toDouble, nn, nd <= hi)) ++
        c.quantileBounds.map { case (q, lo, hi) =>
          val qv = col(s"__q${quantiles.indexOf((c.column, q))}")
          row(s"q$q", qv, hi, nn, qv.isNaN || (qv >= lo && qv <= hi))
        }
    }
    if (rows.isEmpty) Results.emptyVerdicts(profiled.sparkSession)
    else withQ.select(inline(array(rows: _*)))
  }
}
