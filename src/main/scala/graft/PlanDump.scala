package graft

import java.nio.file.{Files, Paths}

import graft.checks._
import graft.engine.SharedScans
import graft.operators._
import graft.queries.Flagship
import graft.sources.Pages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Dev tool: dumps `.explain("formatted")` for named declared queries to
  * plans/r06/<name>_<suffix>.txt — the before/after plan artifacts an
  * optimization commits alongside the code. Besides the declared queries
  * it understands pseudo-entries for the suite lineages that are not
  * themselves queries (the artifacts BENCH/PLANS.md curates), built over
  * a generated 20 k-page table; `suite` selects all of them.
  *
  * Usage: runMain graft.PlanDump <suffix> <name> [<name> ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val names = args.drop(1).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("plans/r06")
    Files.createDirectories(outDir)
    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$suffix.txt")
    }
    SparkEntry.allSpecs.filter(s => names.contains(s.name)).foreach { spec =>
      dump(spec.name, spec.fn(spark, sfDir))
    }
    val wanted = suiteLineages(spark).filter { case (n, _) =>
      names.contains(n) || names.contains("suite")
    }
    wanted.foreach { case (n, df) => dump(n, df()) }
    spark.stop()
  }

  /** The suite's hot lineages, each built only when selected. */
  private def suiteLineages(spark: SparkSession): Seq[(String, () => DataFrame)] = {
    lazy val pages = Pages.generate(spark, 20000, numPartitions = 8)
    val suite = Flagship.suite(spark)
    def first[C <: Check](pf: PartialFunction[Check, C]): C = suite.checks.collectFirst(pf).get
    // the Runner's own shared scans, over the generated table
    lazy val shared = new SharedScans(pages, suite.checks, suite.refTables, suite.keyCol)
    lazy val uniqueId = first { case c: UniquenessCheck => c }.id
    lazy val nearDup = Dedup.nearDupSurfaces(pages, "url", "text")
    Seq(
      // categorical + digit + drift counts in ONE pass
      "cellscan" -> (() => shared.cellCounts.get),
      // uniqueness + byte-identity candidates, then ONE semi-join + exact groupBy
      "keyscan_phase1" -> (() => shared.keyPhase1(uniqueId)),
      "keyscan_phase2" -> (() => shared.keyPhase2(uniqueId)),
      "referential" -> (() => Referential.orphans(pages, Pages.hosts(spark),
        first { case c: ReferentialCheck => c }, suite.keyCol)),
      // KLL + HLL sketches in one scan
      "column_stats" -> (() => ColumnStats.profile(pages,
        suite.checks.collect { case c: ColumnStatsCheck => c })),
      // hash-agg dup fingerprints -> semi-join -> rank dups only
      "exact_drop_list" -> (() => Dedup.exactDropList(pages, "url", "text")),
      // ONE cached signature pass; the near phase anti-joins exact drops
      "near_dup_drops" -> (() => nearDup._2),
      "near_dup_pairs" -> (() => Dedup.simhashPairsWithStats(
        nearDup._1.select(col("id"), col("sim")))._1),
      // corpus single-cell; (bits+1)x explode on the broadcast query side
      "ann_multiprobe" -> { () =>
        val emb = spark.range(2000).select(col("id"),
          array((1 to 8).map(i => sin(col("id") * i).cast("float")): _*).as("vec"))
        val qs = spark.range(5).select((col("id") + 10000L).as("id"),
          array((1 to 8).map(i => cos(col("id") * i).cast("float")): _*).as("vec"))
        Similarity.bucketedTopK(emb, qs, "id", "vec", k = 5, bits = 8, probeHamming = 1)
      },
      // Gram agg -> broadcast cutoffs; UDF-free wide pass
      "regression_outlier" -> (() => RegressionOutlier.flagged(pages,
        first { case c: RegressionOutlierCheck => c })),
      // one scan; the per-row decoder is the only UDF
      "image_decode" -> { () =>
        val imgs = spark.range(64).select(col("id").as("img_id"),
          Multimodal.syntheticPngUdf(col("id"), lit(16), lit(16)).as("bytes"))
        Multimodal.decodeImages(imgs, "img_id", "bytes")
      },
      "un_panel" -> { () =>
        val (unDf, unCfg) = UnPanelOutlier.prepared(pages, first { case c: UnPanelCheck => c })
        UnPanelOutlier.scored(unDf, unCfg)
      },
      // general random= flagging: packed q x q stats, MoM
      "random_effects" -> (() => LongitudinalOutlier.flagged(
        pages.withColumn("t_day", col("warc_ts").cast("double") / 86400.0)
          .withColumn("t_day2", col("t_day") * col("t_day")),
        LongitudinalOutlierCheck("re_plan", "score", "host_id",
          contCovariates = Seq("t_day"), randomTerms = Seq("t_day", "t_day2")))))
  }
}
