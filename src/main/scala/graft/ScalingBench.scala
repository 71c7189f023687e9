package graft

import graft.engine.Runner
import graft.queries.Flagship
import graft.sources.Pages
import org.apache.spark.sql.SparkSession

/** North-rule scaling evidence: the SAME validation suite over the SAME
  * input at N and 4N cores (the sandbox proxy for N vs 4N executors).
  *
  * The sandbox host carries drifting background load from other tenants,
  * so configurations are ALTERNATED within one process and repeated; the
  * best-of-reps per configuration estimates uncontended throughput.
  * Efficiency = T(N-core) / (4 × T(4N-core)) on suite wall time
  * (equivalently throughput(4N) / (4 × throughput(N))).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val nPages = sys.env.getOrElse("SPARK_GRAFT_PAGES", "2000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val lo = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val hi = lo * 4
    val results = scala.collection.mutable.Map[Int, List[Double]]().withDefaultValue(Nil)

    // AQE defaults on (skew handling at scale); SPARK_GRAFT_AQE=off probes
    // how much of the suite's fixed cost is AQE's per-exchange
    // re-optimization barrier on the reduced-frame stages
    val aqe = !sys.env.get("SPARK_GRAFT_AQE").contains("off")
    val cacheInput = !sys.env.get("SPARK_GRAFT_CACHE").contains("off")
    // SPARK_GRAFT_INPUT=<parquet dir>: read the pages table from storage
    // instead of regenerating it inside every scan. This is the north-rule
    // workload (the engine validates a STORED Iceberg/parquet table; the
    // generator is a fixture) — and it matters for the scaling pair: the
    // in-line synthesis allocates ~8 KB of string garbage per row
    // (regexp word-split + 16× repeat before substr), which saturates the
    // single box's memory bus below 8 cores, so ~670 s of the 30 M-page
    // leg was bus-bound and core-count-invariant (round-5 measurement,
    // BENCH/BASELINE.md). A parquet scan decodes one string per column
    // per row — the engine's own work dominates and scales.
    val inputPath = sys.env.get("SPARK_GRAFT_INPUT")

    def runOnce(cpus: Int, rows: Long = nPages,
        suiteFor: SparkSession => graft.engine.Runner.Suite =
          s => Flagship.scalingSuite(s)): Double = {
      // SPARK_GRAFT_MASTER overrides the in-process local[N] master — the
      // north rule's literal shape is N vs 4N EXECUTORS, and Spark's
      // local-cluster[n, cores, memMB] master launches n real separate
      // executor JVMs (own heaps, netty shuffle, serialized exchanges) on
      // this box. `cpus` stays the TOTAL core count for throughput
      // bookkeeping; executor JVMs need the graft classes on their own
      // classpath (they do not inherit the driver's -cp), passed via
      // SPARK_GRAFT_EXEC_CP.
      val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
      val builder0 = SparkSession.builder()
        .master(master)
        .appName(s"graft-scaling-$cpus")
        .config("spark.sql.shuffle.partitions", cpus)
      // local-cluster legs MUST size the executor heap explicitly: the
      // default spark.executor.memory=1g plus a forced -Xms in
      // spark.executor.extraJavaOptions makes every executor JVM die at
      // init (Xms > Xmx), and the standalone master relaunches it forever
      // (campaign-10 post-mortem: 531k relaunches in 50 min, driver OOM).
      // maxExecutorRetries turns that failure mode into a fast abort.
      val builder1 =
        if (!master.startsWith("local-cluster")) builder0
        else builder0
          .config("spark.executor.memory",
            sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
          .config("spark.deploy.maxExecutorRetries", "5")
      val spark = sys.env.get("SPARK_GRAFT_EXEC_CP")
        .fold(builder1)(cp => builder1.config("spark.executor.extraClassPath", cp))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.graft.cache.input", cacheInput)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val pages = inputPath match {
          // warmup calls pass rows < nPages: sample the stored scan down too
          // (sample keeps the scan parallel; limit would funnel the warmup
          // through one GlobalLimit partition), so a 120 M-page leg's
          // untimed JIT warmup doesn't cost a full pass
          case Some(p) if rows < nPages =>
            spark.read.parquet(p).sample(rows.toDouble / nPages, seed = 7L)
          case Some(p) => spark.read.parquet(p)
          case None    => Pages.generate(spark, rows, numPartitions = cpus * 4)
        }
        // SPARK_GRAFT_CACHE=off: run the suite directly on the lazy
        // generated frame — each scan REGENERATES deterministically, all
        // CPU. On one box this is the fairest full-suite scaling proxy:
        // a real cluster's input scan (parquet I/O) scales with executor
        // count, while a single box's cached input sits behind ONE memory
        // bus + ONE disk whose eviction/page-cache interplay varies 2.5×
        // run-to-run (measured — see BENCH/BASELINE.md). With the cache
        // every resource the suite touches scales with cores.
        if (cacheInput)
          pages.cache().count() // input materialized — timing excludes generation
        val t0 = System.nanoTime()
        // scalingSuite = core + model families (round-3 verdict item 2);
        // the near-dup pair-generation shuffle is excluded so the proxy
        // stays scan-dominated — its row compute is in compute mode below
        Runner.run(pages, suiteFor(spark))
          .unified.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally spark.stop()
    }

    // materialize mode: generate nPages once and write them as parquet to
    // SPARK_GRAFT_OUT — the one-time ingest step the measured legs then
    // read (real deployments validate a table somebody else wrote; the
    // write is reported separately, not inside the suite timing).
    if (sys.env.get("SPARK_GRAFT_MODE").contains("materialize")) {
      val out = sys.env("SPARK_GRAFT_OUT")
      val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "128").toInt
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", 32)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t0 = System.nanoTime()
      Pages.generate(spark, nPages, numPartitions = parts)
        .write.mode("overwrite").parquet(out)
      println(f"[scaling] materialized pages=$nPages parts=$parts " +
        f"out=$out sec=${(System.nanoTime() - t0) / 1e9}%8.2f")
      spark.stop()
      return
    }

    // families mode: time each suite family ALONE at the given core count
    // and page count — the fixed-cost localizer. The 30 M-page round-5
    // pair measured 0.549 efficiency while the 1 M-page warmups implied a
    // ~440 s fixed cost at 32 cores vs ~140 s at 8 — a fixed cost that
    // GROWS with cores sinks any feasible-size pair, so it must be
    // attributed per family before it can be cut.
    if (sys.env.get("SPARK_GRAFT_MODE").contains("families")) {
      val fams: Seq[(String, SparkSession => graft.engine.Runner.Suite)] =
        Seq("core" -> ((s: SparkSession) => Flagship.suiteOf(s, Flagship.coreChecks))) ++
          Flagship.modelChecks.map(c =>
            c.id -> ((s: SparkSession) => Flagship.suiteOf(s, Seq(c)))) :+
          ("full" -> ((s: SparkSession) => Flagship.scalingSuite(s)))
      val cpus = sys.env.getOrElse("SPARK_GRAFT_ONESHOT", lo.toString).toInt
      // JIT warmup on the full composition at small rows
      val w = runOnce(cpus, math.min(nPages, 200000L))
      println(f"[scaling] families warmup cores=$cpus suite=${w}%7.2f s")
      (1 to reps).foreach { rep =>
        fams.foreach { case (name, sf) =>
          val sec = runOnce(cpus, nPages, sf)
          println(f"[scaling] family=$name%-20s rep=$rep cores=$cpus%-3d " +
            f"pages=$nPages sec=${sec}%8.2f")
        }
      }
      return
    }

    // compute-only mode: a shuffle-free, fully-codegen'd row-level pass
    // made of the SUITE'S OWN hot per-row operations — xxhash64 key hash +
    // sha2-256 payload digest (the fused KeyScan map side), terminal-digit
    // extraction (DigitPreference) and calendar panel binning
    // (Categorical/Drift) — over deterministically generated pages
    // (generation is itself pure column CPU work and is included in the
    // timing; there is no input I/O to time instead). Zero shuffle end to
    // end, so this isolates CPU scaling from the shared-disk/memory-bus
    // shuffle the single-box sandbox cannot scale.
    if (sys.env.get("SPARK_GRAFT_MODE").contains("compute")) {
      import org.apache.spark.sql.{Column, DataFrame}
      import org.apache.spark.sql.functions._
      // two row-op profiles, each shuffle-free end to end:
      //  - keyscan_digit_panel: the hash/derive ops of the fused scans
      //    (light per row — stresses scan/codegen throughput);
      //  - dedup_signatures: the near-dup/minhash signature computation
      //    (compute-BOUND per row — md5 per token) so the CPU-scaling
      //    evidence covers a heavy op, not just hash/digit/panel derivation
      // SPARK_GRAFT_OPS selects a subset (comma list) — the light keyscan
      // op runs at 100M for cross-round comparability while the heavy
      // signature op uses a smaller page count in the same wall budget
      val opFilter = sys.env.get("SPARK_GRAFT_OPS")
        .map(_.split(",").map(_.trim).toSet)
      val allOps: Seq[(String, DataFrame => DataFrame)] = Seq(
        "keyscan_digit_panel" -> (p => p.select(
          xxhash64(col("url")).as("kh"),
          xxhash64(sha2(col("text").cast("binary"), 256)).as("digest"),
          graft.operators.DigitPreference.digitAt(col("score"), 0.1).as("d"),
          graft.operators.PanelBins.panel(col("warc_ts"), "quarter").as("panel"))),
        "dedup_signatures" -> (p => p.select(
          graft.functions.SimHash64.ofText(col("text")).as("sim"),
          xxhash64(graft.functions.TextFunctions
            .minhashSignature(col("text"), 3, 12)).as("mh"))))
      val ops = allOps.filter { case (n, _) => opFilter.forall(_.contains(n)) }
      def computeOnce(cpus: Int, proj: DataFrame => DataFrame): Double = {
        val spark = SparkSession.builder().master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.ui.enabled", "false").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        try {
          // honor SPARK_GRAFT_INPUT like the suite legs: the in-line
          // generator's string churn saturates the single box's memory
          // write bus below 8 threads (BENCH/BASELINE.md round 5), which
          // contaminates the CPU-scaling evidence the compute mode exists
          // to isolate
          val pages = inputPath match {
            case Some(p) => spark.read.parquet(p)
            case None    => Pages.generate(spark, nPages, numPartitions = cpus * 4)
          }
          val t0 = System.nanoTime()
          proj(pages).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally spark.stop()
      }
      ops.foreach { case (_, proj) => computeOnce(hi, proj) } // warmup
      val cres = scala.collection.mutable.Map[(String, Int), List[Double]]()
        .withDefaultValue(Nil)
      (1 to reps).foreach { rep =>
        ops.foreach { case (name, proj) =>
          Seq(lo, hi).foreach { cpus =>
            val sec = computeOnce(cpus, proj)
            cres((name, cpus)) = sec :: cres((name, cpus))
            println(f"[scaling] compute op=$name rep=$rep cores=$cpus%-3d " +
              f"pass=${sec}%7.2f s (${nPages / sec}%9.0f docs/s)")
          }
        }
      }
      ops.foreach { case (name, _) =>
        val bn = cres((name, lo)).min
        val b4 = cres((name, hi)).min
        val eff = bn / (4.0 * b4)
        println(s"""{"metric":"compute scaling efficiency","op":"$name",""" +
          s""""value":${num(eff, 3)},"unit":"ratio","pages":$nPages,""" +
          s""""n_cores":$lo,"n4_cores":$hi,"best_sec_n":${num(bn, 2)},""" +
          s""""best_sec_4n":${num(b4, 2)}}""")
      }
      return
    }

    // one-shot mode: run ONE (cores) config in THIS JVM and exit — the
    // shell drives alternation with a FRESH JVM per config so the heap can
    // be memory-proportional (an executor has fixed resources: the 4N-
    // executor cluster the north rule compares against has 4× cores AND
    // 4× aggregate memory — giving both core counts the same heap lets
    // the 4N config evict the shared input cache and measure disk, not
    // scaling). An untimed in-JVM warmup absorbs JIT/codegen first.
    sys.env.get("SPARK_GRAFT_ONESHOT").map(_.toInt).foreach { cpus =>
      val w = runOnce(cpus, math.min(nPages, 1000000L))
      println(f"[scaling] oneshot warmup cores=$cpus suite=${w}%7.2f s")
      val sec = runOnce(cpus)
      println(s"""{"metric":"oneshot suite","cores":$cpus,"pages":$nPages,""" +
        s""""sec":${num(sec, 2)},"docs_per_sec":${num(nPages / sec, 0)},""" +
        s""""heap":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}","aqe":$aqe,""" +
        s""""cache":$cacheInput}""")
      return
    }

    // untimed small warmup: JIT + codegen caches, so rep 1 isn't penalized
    { val w = runOnce(hi, math.min(nPages, 1000000L))
      println(f"[scaling] warmup cores=$hi suite=${w}%7.2f s") }
    (1 to reps).foreach { rep =>
      Seq(lo, hi).foreach { cpus =>
        val sec = runOnce(cpus)
        results(cpus) = sec :: results(cpus)
        println(f"[scaling] rep=$rep cores=$cpus%-3d suite=${sec}%7.2f s " +
          f"throughput=${nPages / sec}%9.0f docs/s")
      }
    }
    val bestLo = results(lo).min
    val bestHi = results(hi).min
    val eff = bestLo / (4.0 * bestHi)
    println(f"[scaling] best local[$lo]=${bestLo}%.2f s (${nPages / bestLo}%.0f docs/s), " +
      f"best local[$hi]=${bestHi}%.2f s (${nPages / bestHi}%.0f docs/s)")
    println(s"""{"metric":"scaling efficiency T($lo)/(4*T($hi))","value":${num(eff, 3)},""" +
      s""""unit":"ratio","n_cores":$lo,"n4_cores":$hi,"pages":$nPages,""" +
      s""""best_sec_n":${num(bestLo, 2)},"best_sec_4n":${num(bestHi, 2)},""" +
      s""""docs_per_sec_n":${num(nPages / bestLo, 0)},"docs_per_sec_4n":${num(nPages / bestHi, 0)}}""")
  }

  /** Locale-stable numeric rendering (the driver json.loads these lines). */
  private def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
}
