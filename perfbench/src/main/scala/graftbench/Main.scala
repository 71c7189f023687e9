package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.compile.CheckCompiler
import graft.engine.{CacheTracker, Runner}
import graft.queries._
import graft.store.TableIO
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. One process runs one workload at local[nproc]
  * and writes the raw figures — setup reps, per-iteration wall times, the
  * correctness gate and, when traced, the spans and listener records — to
  * `<work>/raw.json`. `run.py` turns them into metrics.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1 --work DIR [--tables DIR]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: String, tables: String)

  /** Pages in the stored table: small enough that the suite's fixed cost
    * (~180 jobs, codegen) and its full-table passes both show. */
  val PageCount = 50000L
  /** Set-up reps; the median is `setup_s`. The first rep carries the JIT
    * warm-up of the generator, so the median rests on the later ones; three
    * keep a run inside the benchmark's time budget. */
  val SetupReps = 3
  /** Crawl segments of the traced resumable pass, and how many it commits
    * one call at a time: each unit is large enough (~12 k pages) for the
    * planted flags to show, and two calls keep a traced run inside its
    * time limit on a contended host. */
  val Units = 4
  val UnitCalls = 2
  /** The query workload's set: the two carried regressions the roadmap
    * names, the native text functions, and light queries from every other
    * module; sized so a run fits the benchmark's time budget. */
  val Queries = Seq("q35_fingerprint", "q64_un_panel", "q28_minhash_sig", "q31_simhash",
    "q32_langid", "q02_scan_filter", "q16_digit_extract", "q20_topk", "q37_ann_bucketed",
    "q41_weighted_freq")
  /** Warm query sweeps at least; the first two still carry JIT compilation
    * and are left out of the warm figures (`report.WARMUP_SWEEPS`), so three
    * sweeps remain for their median. */
  val WarmSweeps = 5

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv.getOrElse("tables", ""))
    val stampStart = Stamp.now()
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - t0) / 1e3
    val tracing = new Tracing(spark.sparkContext, new Tracer(o.traced))
    val bench = new Workloads(spark, o, tracing)
    val refBefore = Seq.fill(Reference.Reps)(Reference.cpuS(cores))
    val out = o.workload match {
      case "suite_stored" => bench.suiteStored()
      case "queries_sf" => bench.queriesSf()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val refAfter = Seq.fill(Reference.Reps)(Reference.cpuS(cores))
    val raw = out ++ Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "session_s" -> sessionS, "reference_cpu_s" -> (refBefore ++ refAfter),
      "stamp" -> Map(
        "start" -> stampStart, "end" -> Stamp.now(), "nproc" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", "")),
      "trace" -> (if (o.traced) Map("spans" -> tracing.tracer.all) ++ tracing.recorder.toMap
                  else Map.empty))
    Json.write(Paths.get(o.work, "raw.json").toString, raw)
    spark.stop()
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsString(v).getBytes(StandardCharsets.UTF_8))
}

/** Host state stamped on every result: a later change to shuffle scratch,
  * heap or GC, or a contended host, shows up in the record. */
object Stamp {
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    catch { case _: Exception => "" }

  def now(): Map[String, Double] = Map(
    "loadavg_1m" -> read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0),
    "page_cache_mb" -> read("/proc/meminfo").linesIterator
      .collectFirst { case l if l.startsWith("Cached:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0))
}

final class Workloads(spark: SparkSession, o: Main.Opts, tracing: Tracing) {
  private val tracer = tracing.tracer
  private val pagesPath = s"${o.work}/data/pages"
  private var attempted = 0L
  private var failed = 0L
  private val errors = ArrayBuffer.empty[String]

  private def wallS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall time plus the process CPU time and the host's CPU steal share
    * over the same interval. */
  private def measured[T](body: => T): (T, Map[String, Any]) = {
    val ((st0, tot0), c0) = (Host.stealAndTotal(), Host.processCpuS())
    val (r, s) = wallS(body)
    val ((st1, tot1), c1) = (Host.stealAndTotal(), Host.processCpuS())
    (r, Map("wall_s" -> s, "cpu_s" -> (c1 - c0),
      "steal_frac" -> (st1 - st0) / math.max(tot1 - tot0, 1.0)))
  }

  /** One attempt of a unit of work; an exception counts as a failure. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        None
    }
  }

  private def tally: Map[String, Any] =
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq)

  /** Warm iterations run until `seconds` have passed and at least `min` ran.
    * A traced run alternates traced and untraced iterations, so the traced
    * minus untraced medians give the tracing overhead. */
  private def warmLoop(min: Int)(iter: (Int, Boolean) => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      iter(i, o.traced && i % 2 == 0)
      i += 1
    }
  }

  // ---- setup: the seeded pages table, written to parquet ------------------

  /** Generates and writes the table once per set-up rep and keeps the last
    * copy; the median rep's process CPU time is the workload's setup time. */
  private def setupPages(): Seq[Map[String, Double]] =
    (1 to Main.SetupReps).map { rep =>
      tracer.span("setup", "rep" -> rep) {
        val cpu0 = Host.processCpuS()
        val table = Inputs.pages(spark, Main.PageCount, o.seed, spark.sparkContext.defaultParallelism)
        val (_, gen) = wallS(tracer.span("sources.generate") { table.cache().count() })
        val (_, wr) = wallS(tracer.span("sources.write") {
          table.write.mode("overwrite").parquet(pagesPath)
        })
        table.unpersist(blocking = true)
        Map("generate_s" -> gen, "write_s" -> wr, "cpu_s" -> (Host.processCpuS() - cpu0))
      }
    }

  // ---- suite_stored --------------------------------------------------------

  def suiteStored(): Map[String, Any] = {
    val setup = setupPages()
    val suite = Flagship.suite(spark)
    val iters = ArrayBuffer.empty[Map[String, Any]]
    val outputs = ArrayBuffer.empty[Array[Row]]

    def once(kind: String, traced: Boolean): Unit = {
      val (rows, m) = measured(tracing.iteration(traced, "iter", "kind" -> kind) {
        attempt(s"suite $kind")(CacheTracker.scope {
          val df = spark.read.parquet(pagesPath)
          tracer.span("compile") { CheckCompiler.compile(df, suite.checks, suite.refTables) }
          val res = tracer.span("engine.build") { Runner.run(df, suite) }
          tracer.span("engine.exec") { res.unified.collect() }
        })
      })
      rows.foreach(outputs += _)
      iters += m ++ Map("kind" -> kind, "traced" -> traced, "ok" -> rows.isDefined)
    }

    once("cold", o.traced)
    warmLoop(if (o.traced) 2 else 1)((_, traced) => once("warm", traced))
    val resumable =
      if (!o.traced) Map.empty
      else {
        val store = storePass(suite)
        operatorBreakdown()
        store
      }

    val gate = Gate.suite(spark, pagesPath, outputs.lastOption.getOrElse(Array.empty), None)
    val rowDiff = outputs.takeRight(2) match {
      case ArrayBuffer(a, b) => Gate.verdictRowDiff(a, b)
      case _ => -1
    }
    gateTally(gate)
    Map("setup" -> setup, "iterations" -> iters.toSeq, "pages" -> Main.PageCount,
      "gate" -> (gate ++ Map("verdict_row_diff" -> rowDiff))) ++ resumable ++ tally
  }

  /** Each flagship check alone through `Flagship.suiteOf`, after the full
    * suite warmed the session: per-check build, execution and shuffle. */
  private def operatorBreakdown(): Unit = {
    val checks = Flagship.coreChecks ++ Flagship.modelChecks ++ Flagship.dedupChecks
    checks.foreach { c =>
      tracing.iteration(traced = true, "operator", "check" -> c.id) {
        attempt(s"operator ${c.id}")(CacheTracker.scope {
          val df = spark.read.parquet(pagesPath)
          val res = tracer.span("operator.build") { Runner.run(df, Flagship.suiteOf(spark, Seq(c))) }
          tracer.span("operator.exec") { res.unified.collect() }
        })
      }
    }
  }

  private def gateTally(gate: Map[String, Any]): Unit = {
    attempted += gate("checked").asInstanceOf[Int]
    failed += gate("mismatches").asInstanceOf[Seq[String]].size
  }

  // ---- the resumable path (traced suite_stored runs) ------------------------

  /** Crawl segments through `Runner.runResumable`: unit = pmod(xxhash64(url),
    * K), so duplicate urls share a segment. One call per unit, then a call
    * that processes none and materializes the read-back union. */
  private def storePass(suite: Runner.Suite): Map[String, Any] = {
    val stateRoot = s"${o.work}/data/state"
    val runId = s"perfbench-${o.seed}"
    def input: DataFrame = spark.read.parquet(pagesPath)
      .withColumn("unit", pmod(xxhash64(col("url")), lit(Main.Units)))
    (0 until Main.UnitCalls).foreach { before =>
      tracing.iteration(traced = true, "store", "committed_before" -> before) {
        attempt("unit call")(tracer.span("store.call", "committed_before" -> before) {
          Runner.runResumable(input, suite, stateRoot, "unit", runId, failAfterUnits = 1)
        })
      }
    }
    val rows = tracing.iteration(traced = true, "store") {
      attempt("resume")(tracer.span("store.readback") {
        Runner.runResumable(input, suite, stateRoot, "unit", runId, failAfterUnits = 0)
          .unified.collect()
      })
    }
    val committed = TableIO.readManifest(stateRoot).map(_.unit).toSet
    val gate = Gate.suite(spark, pagesPath, rows.getOrElse(Array.empty),
      Some(("unit", Main.Units, committed)))
    gateTally(gate)
    Map("committed" -> committed.size, "store" -> Store.measure(s"$stateRoot/data"),
      "units_gate" -> gate)
  }

  // ---- queries_sf ----------------------------------------------------------

  def queriesSf(): Map[String, Any] = {
    val modules = Seq("relational" -> RelationalQueries.all, "stat" -> StatQueries.all,
      "text" -> TextQueries.all, "vector" -> VectorQueries.all, "misc" -> MiscQueries.all,
      "operator" -> OperatorQueries.all)
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    val specs = SparkEntry.allSpecs.filter(q => Main.Queries.contains(q.name))
    require(specs.size == Main.Queries.size,
      s"queries not found: ${Main.Queries.filterNot(n => specs.exists(_.name == n)).mkString(", ")}")
    val rnd = new Random(o.seed)
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val sweeps = ArrayBuffer.empty[Map[String, Any]]

    def sweep(kind: String, traced: Boolean): Unit = {
      val idx = sweeps.size
      val failedBefore = failed
      val order = rnd.shuffle(specs)
      val (_, m) = measured(tracing.iteration(traced, "iter", "kind" -> kind) {
        order.foreach { q =>
          val (ok, qs) = wallS(attempt(s"query ${q.name}") {
            tracer.span("query", "name" -> q.name, "module" -> moduleOf(q.name)) {
              q.fn(spark, o.tables).write.format("noop").mode("overwrite").save()
            }
          })
          samples += Map("sweep" -> idx, "kind" -> kind, "traced" -> traced,
            "name" -> q.name, "module" -> moduleOf(q.name), "wall_s" -> qs, "ok" -> ok.isDefined)
        }
      })
      sweeps += m ++ Map("kind" -> kind, "traced" -> traced, "ok" -> (failed == failedBefore))
    }

    sweep("cold", o.traced)
    warmLoop(Main.WarmSweeps)((_, traced) => sweep("warm", traced))

    // untimed correctness pass: each query that has an oracle writes its
    // result for the DuckDB comparison run.py makes after this JVM exits
    val outDir = s"${o.work}/data/qout"
    val oracle = SparkEntry.oracleSql.filter { case (name, _) => specs.exists(_.name == name) }
    specs.filter(q => oracle.contains(q.name)).foreach { q =>
      attempt(s"result ${q.name}") {
        q.fn(spark, o.tables).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
    }
    Json.write(s"$outDir/oracle_sql.json", oracle)
    Map("iterations" -> sweeps.toSeq, "samples" -> samples.toSeq,
      "oracle_dir" -> outDir,
      "unchecked" -> specs.map(_.name).filterNot(oracle.contains)) ++ tally
  }
}

/** A fixed piece of work that uses no engine code and touches no memory:
  * on each of `threads` threads at once, a chain of multiply, shift and
  * branch steps. Its CPU time tracks how fast the host runs this JVM at
  * the moment, which drifts by a third and more with the load other
  * machines put on the shared host; the run's CPU times are scaled by it.
  * It runs `Reps` times before the workload and `Reps` times after. */
object Reference {
  val Reps = 3
  private val Steps = 36000000L

  /** Summed CPU seconds of the work's threads. */
  def cpuS(threads: Int): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val cpu = new Array[Double](threads)
    val sink = new Array[Long](threads)
    val workers = (0 until threads).map { k =>
      new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        var a = k + 1L
        var b = 0x9E3779B97F4A7C15L ^ k
        var i = 0L
        while (i < Steps) {
          a = a * 6364136223846793005L + 1442695040888963407L
          b = (b ^ (a >>> 17)) * 0xBF58476D1CE4E5B9L
          if ((b & 1) == 0) a += b >>> 31 else a -= b
          i += 1
        }
        cpu(k) = (bean.getCurrentThreadCpuTime - c0) / 1e9
        sink(k) = a + b
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    cpu.sum
  }
}

/** Process CPU time and the host's CPU accounting (/proc/stat jiffies). */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = os.getProcessCpuTime / 1e9
  /** Steal and total jiffies of all CPUs (0, 0 where unreadable). */
  def stealAndTotal(): (Double, Double) =
    try {
      val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toDouble)
      (v(7), v.sum)
    } catch { case _: Exception => (0.0, 0.0) }
}

/** Size of what the resumable runner committed: files and bytes. */
object Store {
  def measure(root: String): Map[String, Double] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map("files" -> 0.0, "bytes" -> 0.0)
    else {
      val files = Files.walk(p).filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      Map("files" -> files.length.toDouble, "bytes" -> files.map(Files.size(_).toDouble).sum)
    }
  }
}
