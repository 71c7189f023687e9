package graft.engine

import graft.SparkSpec
import graft.checks._
import graft.queries.Flagship
import graft.sources.Pages
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame

/** How often a suite reads its whole input, counted by a stage listener.
  * A stage is a full read when its input bytes reach half of the cached
  * input: a cached-block read counts the whole block, whatever columns the
  * scan keeps. The input is cached and materialized before the run, so
  * every scan reads it from the cache and the count does not depend on
  * which of the concurrent check builds touches it first. The count spans
  * the build's eager jobs and the one action over the unified output.
  */
class InputReadsSpec extends SparkSpec {

  private lazy val pages = Pages.generate(spark, 20000, numPartitions = 8)

  /** Full-input reads of one run of `checks` over the cached pages table. */
  private def fullReads(checks: Seq[Check]): Int = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val input = pages.cache()
    input.count()
    val cachedBytes = sc.getRDDStorageInfo.map(_.memSize).sum
    assert(cachedBytes > 0, "the input must be cached before the run")
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.inputMetrics.bytesRead * 2 >= cachedBytes)
          reads.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val res = Runner.run(input, Flagship.suiteOf(spark, checks))
      res.unified.collect()
      ListenerDrain.drain(sc)
      res.release()
    } finally {
      sc.removeSparkListener(listener)
      input.unpersist(blocking = true)
    }
    reads.get()
  }

  private def flagship(ids: String*): Seq[Check] = {
    val all = Flagship.suite(spark).checks
    ids.map(id => all.find(_.id == id).get)
  }

  test("full-input reads: the flagship suite and each fused scan") {
    // ColumnStats: every check of one scope is ONE profile aggregate
    assert(fullReads(flagship("score_stats") :+
      ColumnStatsCheck("chars_stats", "n_chars", maxMissingFrac = Some(0.0))) == 1)
    // KeyScan: ONE phase-1 key pass + ONE fused phase-2 semi-join
    assert(fullReads(flagship("unique_url", "text_bytes")) == 2)
    // CellScan: ONE drift-edge aggregate + ONE fused count pass
    assert(fullReads(flagship("lang_consistency", "score_digits", "score_drift")) == 2)
    assert(fullReads(Flagship.suite(spark).checks) == 16)
  }

  test("a scoped byte-identity check runs as the global one: same verdicts, still fused") {
    val global = flagship("unique_url", "text_bytes")
    val scoped = global.map {
      case b: ByteIdentityCheck => b.copy(scope = Seq("lang"))
      case c => c
    }
    assert(fullReads(scoped) == 2, "the scoped byte check must share the KeyScan")
    def verdicts(checks: Seq[Check]): Seq[String] = {
      val res = Runner.run(pages, Flagship.suiteOf(spark, checks))
      val out = res.verdicts.collect().map(_.toString).sorted.toSeq
      res.release()
      out
    }
    val v = verdicts(global)
    assert(v.exists(_.contains("text_bytes")), "vacuous comparison")
    assert(verdicts(scoped) == v)
  }
}
