package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** Wall clock shared by spans and listener events: epoch milliseconds with
  * sub-millisecond resolution, advanced by the monotonic nano clock so a
  * span never has a negative length. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory spans around the benchmark's own calls into each layer.
  * Switched off, `span` only runs its body: timed runs and the untraced
  * iterations of a traced run record nothing. */
final class Tracer(var on: Boolean) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val start = Clock.nowMs
      val before = Counters.snapshot()
      spans += Map.empty
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val after = Counters.snapshot()
        spans(id) = Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_ms" -> start, "end_ms" -> Clock.nowMs,
          "attrs" -> attrs.toMap,
          "counters" -> after.map { case (k, v) => k -> (v - before(k)) })
      }
    }

  def all: Seq[Map[String, Any]] = spans.toSeq
}

/** Process-wide counters read at span boundaries: Spark's static codegen
  * histogram (the compile-time sum is approximated as mean × count, since a
  * histogram keeps a reservoir, not a total), the JIT compiler time and the
  * collector time. */
object Counters {
  def snapshot(): Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "codegen_compiles" -> h.getCount.toDouble,
      "codegen_compile_ms" -> h.getCount * h.getSnapshot.getMean,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> gcMs.toDouble)
  }
}

/** Collects jobs, stages, tasks, SQL executions and cached-block sizes.
  * Attached only during traced iterations; everything stays in memory and
  * is written once the run ends. */
final class Recorder extends SparkListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Seq[Double]]
  val sqls = ArrayBuffer.empty[Map[String, Any]]
  private val sqlStarts = new ConcurrentHashMap[Long, (Double, Boolean)]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  private var cachedBytes = 0L
  @volatile var cachedPeakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Map("id" -> e.jobId, "start_ms" -> e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val sr = m.shuffleReadMetrics
    stages += Map(
      "id" -> s.stageId,
      "start_ms" -> s.submissionTime.getOrElse(0L).toDouble,
      "end_ms" -> s.completionTime.getOrElse(0L).toDouble,
      "tasks" -> s.numTasks,
      "run_ms" -> m.executorRunTime.toDouble,
      "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "shuffle_read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead).toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "fetch_wait_ms" -> sr.fetchWaitTime.toDouble,
      // the engine caches its (column-pruned) input once per run; that
      // relation's RDD is named after a plan that scans parquet directly,
      // while every derived cache's plan reads an in-memory relation
      "reads_cached_input" -> s.rddInfos.exists(r => r.storageLevel.isValid &&
        r.name.contains("FileScan parquet") && !r.name.contains("InMemoryTableScan")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val run = Option(e.taskMetrics).map(_.executorRunTime.toDouble).getOrElse(0.0)
    tasks += Seq(i.launchTime.toDouble, i.finishTime.toDouble, run)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val writes = s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")
      sqlStarts.put(s.executionId, (s.time.toDouble, writes))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStarts.remove(s.executionId)).foreach { case (t0, writes) =>
        synchronized {
          sqls += Map("start_ms" -> t0, "end_ms" -> s.time.toDouble, "writes_parquet" -> writes)
        }
      }
    case _ => ()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case id: RDDBlockId => synchronized {
        val now = if (b.storageLevel.isValid) b.memSize else 0L
        cachedBytes += now - Option(blocks.put(id.name, now)).getOrElse(0L)
        cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)
      }
      case _ => ()
    }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "tasks" -> tasks.toSeq,
      "sqls" -> sqls.toSeq, "cached_peak_bytes" -> cachedPeakBytes)
  }
}

/** Attaches the recorder around traced iterations only, and waits for the
  * listener bus to drain before detaching so no event is lost. */
final class Tracing(sc: SparkContext, val tracer: Tracer) {
  val recorder = new Recorder

  def iteration[T](traced: Boolean, name: String, attrs: (String, Any)*)(body: => T): T =
    if (!traced) {
      val was = tracer.on
      tracer.on = false
      try body finally tracer.on = was
    } else {
      sc.addSparkListener(recorder)
      try tracer.span(name, attrs: _*)(body)
      finally {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(recorder)
      }
    }
}
