#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload suite_stored --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the JVM
harness with sbt (offline) into perfbench/target and the root target/, and
reuses the build while no source changed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import report  # noqa: E402

WORKLOADS = ("suite_stored", "queries_sf")
HEAP = "3g"
TABLES_SF = 0.01
TABLE_SETUP_REPS = 11  # the query tables take ~0.1 s: more reps, steadier median
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
E2E_UNITS = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns (classpath, jvm options), building with sbt when stale."""
    runtime = os.path.join(HERE, "target", "runtime")
    stamp = os.path.join(runtime, "fingerprint")
    fp = fingerprint()
    paths = [os.path.join(runtime, f) for f in ("classpath.txt", "jvm_options.txt")]
    fresh = all(os.path.exists(p) for p in paths + [stamp])
    if fresh:
        with open(stamp) as fh:
            fresh = fh.read() == fp
    if not fresh:
        if shutil.which("sbt") is None:
            raise RuntimeError("sbt not found on PATH")
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
        os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
        log("building engine and harness (sbt writeRuntime)")
        t0 = time.time()
        with open(os.path.join(HERE, "target", "build.log"), "w") as out:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeRuntime"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            raise RuntimeError(f"sbt build failed ({rc}); see perfbench/target/build.log")
        log(f"built in {time.time() - t0:.0f} s")
        with open(stamp, "w") as fh:
            fh.write(fp)
    with open(paths[0]) as fh:
        classpath = fh.read().strip()
    with open(paths[1]) as fh:
        options = [l for l in fh.read().splitlines() if l]
    return classpath, options


def run_jvm(classpath, options, work, args):
    """The harness in its own process group, killed whole on timeout."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the engine's forked-run options, with the heap fixed and the shuffle
    # scratch and JVM temp files kept inside the run's work directory (the
    # last flag wins)
    tmp = os.path.join(work, "spark-local", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + options + [f"-Xms{HEAP}", f"-Xmx{HEAP}",
                              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
                              f"-Djava.io.tmpdir={tmp}",
                              "-cp", classpath, "graftbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(os.path.join(work, "raw.json")) as fh:
        return json.load(fh)


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor gave
    this machine's virtual CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def calibrate():
    """Seconds a fixed single-threaded loop takes: a host-speed reading to
    set beside the run's times."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def setup_tables(seed, tables_dir):
    """Generates and writes the query tables TABLE_SETUP_REPS times; returns
    the per-rep wall and process CPU times, the last copy stays."""
    import tables
    reps = []
    for _ in range(TABLE_SETUP_REPS):
        c0, t0 = time.process_time(), time.perf_counter()
        built = tables.build(TABLES_SF, seed)
        t1 = time.perf_counter()
        shutil.rmtree(tables_dir, ignore_errors=True)
        tables.write(built, tables_dir)
        reps.append({"generate_s": t1 - t0, "write_s": time.perf_counter() - t1,
                     "cpu_s": time.process_time() - c0})
    return reps


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources next to perfbench/: run from a graft checkout")
        return 2
    classpath, options = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    tables_dir = os.path.join(work, "data", "tables")
    try:
        setup = None
        if a.workload == "queries_sf":
            setup = setup_tables(a.seed, tables_dir)
            args += ["--tables", tables_dir]
        calibration_s = calibrate()
        steal0, total0 = cpu_times()
        raw = run_jvm(classpath, options, work, args)
        steal1, total1 = cpu_times()
        raw["stamp"]["cpu_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        raw["stamp"]["calibration_s"] = calibration_s
        if setup is not None:
            raw["setup"] = setup
        mismatches = list(raw.get("gate", {}).get("mismatches", []))
        mismatches += raw.get("units_gate", {}).get("mismatches", [])
        if a.workload == "queries_sf":
            import tables
            checked, bad = tables.compare(raw["oracle_dir"], tables_dir)
            raw["attempted"] += len(checked)
            raw["failed"] += len(bad)
            mismatches += bad
            log(f"oracle: {len(checked) - len(bad)}/{len(checked)} results match DuckDB; "
                f"unchecked (no oracle): {', '.join(raw['unchecked']) or 'none'}")
        for e in raw["errors"] + mismatches:
            log(f"FAIL {e}")

        stamp = raw["stamp"]
        log(f"stamp nproc={stamp['nproc']} heap_mb={stamp['heap_mb']} "
            f"spark.local.dir={stamp['spark_local_dir']} "
            f"loadavg_1m={stamp['start']['loadavg_1m']}->{stamp['end']['loadavg_1m']} "
            f"page_cache_mb={stamp['start']['page_cache_mb']:.0f}->"
            f"{stamp['end']['page_cache_mb']:.0f} cpu_steal_frac={stamp['cpu_steal_frac']:.3f} "
            f"calibration_s={stamp['calibration_s']:.3f}")
        if a.trace:
            values = report.per_layer(raw)
            report.write_spans(raw, os.path.join(work, "spans.jsonl"))
            with open(os.path.join(work, "report.json"), "w") as fh:
                json.dump(dict(report.span_report(raw), stamp=stamp), fh, indent=1)
            log(f"spans and report in {os.path.relpath(work, ROOT)}")
        else:
            values = report.end_to_end(raw)
            for line in headline(raw):
                log(line)
        metrics = {k: {"value": float(v), "unit": report.unit_of(k) if a.trace else
                       E2E_UNITS[k]} for k, v in values.items()}
        for k, v in metrics.items():
            log(f"{k} = {v['value']:.6g} {v['unit']}")
        attempted, failed = int(raw["attempted"]), int(raw["failed"])
        correct = failed == 0
        log(f"failed_frac = {failed / max(attempted, 1):.4g} ({failed}/{attempted})")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)


def headline(raw):
    """The figures beside the gated metrics: the reference work, the CPU
    times before scaling, the wall times of the same reps and iterations,
    and what follows from them."""
    warm = report.warm_samples(raw)
    ref = raw["reference_cpu_s"]
    yield f"reference_cpu_s = {report.median(ref):.6g} s ({len(ref)} reps; " \
          f"host factor {report.host_factor(raw):.4g})"
    for k, v in report.end_to_end_unscaled(raw).items():
        yield f"{k} unscaled = {v:.6g} s"
    yield f"setup_wall_s = {report.median([r['generate_s'] + r['write_s'] for r in raw['setup']]):.6g} s"
    yield f"cold_wall_s = {report.cold_iteration(raw)['wall_s']:.6g} s"
    yield f"warm_wall_s = {report.median(warm):.6g} s ({len(warm)} samples)"
    if raw["workload"] == "suite_stored":
        yield f"docs_per_s = {raw['pages'] / report.median(warm):.6g} 1/s"
        yield f"verdict rows differing between the last two suite runs = " \
              f"{raw['gate']['verdict_row_diff']} count"
    else:
        queries = report.query_samples(raw)
        yield f"query_p50_s = {report.median(queries):.6g} s ({len(queries)} samples)"
        try:
            yield f"query_p90_s = {report.percentile(queries, 90):.6g} s"
        except ValueError as e:
            yield f"query_p90_s not reported: {e}"


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run failed
        log(f"error: {e}")
        sys.exit(3)
