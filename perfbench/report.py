"""Benchmark arithmetic: medians and tail percentiles, span self time, busy
fraction and idle time, and the reduction of a run's raw figures
(`raw.json`, written by the JVM harness) to the metrics BENCHMARK.json
declares.

Run standalone to rebuild a traced run's report from its work directory:

    python3 perfbench/report.py perfbench/.work/<workload>-<seed>-t1
"""
import json
import math
import os
import statistics
import sys

# ---- arithmetic -------------------------------------------------------------


def median(values):
    return statistics.median(values)


def percentile(values, p, tail_min=10):
    """Nearest-rank p-th percentile. A tail percentile (p > 50) is only
    defined when at least `tail_min` samples lie beyond it, so p90 needs at
    least 100 samples; fewer raise ValueError."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    if p > 50 and len(xs) - rank < tail_min:
        raise ValueError(f"p{p} of {len(xs)} samples has fewer than "
                         f"{tail_min} samples beyond it")
    return xs[rank - 1]


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, window):
    return max(interval[0], window[0]), min(interval[1], window[1])


def self_times(spans):
    """{span id: self time} — a span's length minus the part of it its
    children cover. Children may nest, overlap each other or stick out of
    their parent; each instant is charged to the parent at most once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        win = (s["start_ms"], s["end_ms"])
        covered = union_length(clip((c["start_ms"], c["end_ms"]), win)
                               for c in children.get(s["id"], []))
        out[s["id"]] = (win[1] - win[0]) - covered
    return out


def busy_fraction(tasks, window, cores):
    """Executor run time inside `window` over the window's core time. A task
    straddling an edge counts in proportion to its overlap."""
    length = window[1] - window[0]
    if length <= 0:
        return 0.0
    busy = 0.0
    for start, end, run in tasks:
        s, e = clip((start, end), window)
        if e > s:
            busy += run * (e - s) / (end - start) if end > start else run
    return busy / (length * cores)


def idle_time(tasks, window):
    """Length of `window` during which no task ran."""
    covered = union_length(clip((t[0], t[1]), window) for t in tasks)
    return (window[1] - window[0]) - covered


# ---- metrics ----------------------------------------------------------------

FLAGSHIP_CHECKS = [
    "score_stats", "unique_url", "host_registered", "lang_consistency",
    "score_digits", "score_drift", "text_bytes", "chars_regression",
    "score_variance", "score_longitudinal", "score_un_panel", "near_dup_text"]
QUERY_MODULES = ["relational", "stat", "text", "vector", "misc", "operator"]
# the roadmap-named queries in the query workload's set
NAMED_QUERIES = ["q35_fingerprint", "q64_un_panel"]
# warm query sweeps that still carry JIT compilation: their process CPU time
# falls sweep by sweep, and they are left out of every warm figure
WARMUP_SWEEPS = 2
# CPU seconds the reference work (`Reference` in Main.scala) takes on the
# host the end-to-end figures are scaled to: about its median on the 4-vCPU
# machine of the README's figures
REFERENCE_CPU_S = 1.0
MB = 1024.0 * 1024.0


def per_layer_names():
    names = ["engine.build_s", "engine.build_jobs", "engine.exec_s",
             "engine.exec_stages", "engine.input_passes", "engine.busy_frac",
             "engine.idle_s", "engine.cached_mb_peak", "compile.s"]
    for c in FLAGSHIP_CHECKS:
        names += [f"operators.{c}.build_s", f"operators.{c}.exec_s",
                  f"operators.{c}.shuffle_mb"]
    for m in QUERY_MODULES:
        names += [f"queries.{m}.cold_s", f"queries.{m}.warm_s"]
    for q in NAMED_QUERIES:
        names += [f"query.{q}.cold_s", f"query.{q}.warm_s"]
    names += ["codegen.compiles", "codegen.compile_s", "jit.compile_s", "gc.s",
              "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
              "shuffle.fetch_wait_s",
              "store.unit_call_s", "store.write_s", "store.files",
              "store.bytes_mb", "store.readback_s", "store.readback_jobs",
              "store.jobs_per_commit",
              "sources.generate_s", "sources.write_s", "sources.scan_mb",
              "trace.overhead_s"]
    return names


UNITS = {"_s": "s", "_jobs": "count", "_stages": "count", "_passes": "count",
         "_frac": "fraction", "_mb": "MB", "_mb_peak": "MB", ".s": "s",
         ".compiles": "count", ".files": "count", "_per_commit": "count"}


def unit_of(name):
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def setup_seconds(raw):
    """Process CPU time of each set-up rep."""
    return [r["cpu_s"] for r in raw["setup"]]


def warm_iterations(raw):
    """The warm iterations that count, in run order: every warm suite run,
    or the warm sweeps after the first WARMUP_SWEEPS, which still carry JIT
    compilation."""
    warm = [i for i in raw["iterations"] if i["kind"] == "warm"]
    return warm[WARMUP_SWEEPS:] if raw["workload"] == "queries_sf" else warm


def warm_samples(raw, key="wall_s"):
    """`key` (wall_s or cpu_s) of the untraced warm iterations: whole suite
    runs, or whole sweeps of the query set, so every query contributes."""
    return [i[key] for i in warm_iterations(raw) if not i["traced"] and i["ok"]]


def query_samples(raw):
    """Single-query walls of the untraced sweeps `warm_samples` counts."""
    warm = sorted({s["sweep"] for s in raw["samples"] if s["kind"] == "warm"})
    counted = set(warm[WARMUP_SWEEPS:])
    return [s["wall_s"] for s in raw["samples"]
            if s["sweep"] in counted and not s["traced"] and s["ok"]]


def cold_iteration(raw):
    return next(i for i in raw["iterations"] if i["kind"] == "cold")


def host_factor(raw):
    """REFERENCE_CPU_S over the run's median reference CPU time: above 1
    while the host runs faster than the one the figures are scaled to."""
    return REFERENCE_CPU_S / median(raw["reference_cpu_s"])


def end_to_end_unscaled(raw):
    """Process CPU time of the median set-up rep, of the cold iteration and
    of the median warm iteration."""
    return {
        "setup_s": median(setup_seconds(raw)),
        "cold_cpu_s": cold_iteration(raw)["cpu_s"],
        "warm_cpu_s": median(warm_samples(raw, "cpu_s")),
    }


def end_to_end(raw):
    """The gated metrics: `end_to_end_unscaled` scaled by `host_factor`.
    Wall time carries the hypervisor's steal and CPU time does not, but
    both move with how fast the shared host runs; the reference work,
    measured in the same run, takes that out."""
    f = host_factor(raw)
    return {k: v * f for k, v in end_to_end_unscaled(raw).items()}


class Trace:
    """Listener records and spans of a traced run, with window queries."""

    def __init__(self, raw):
        t = raw["trace"]
        self.cores = raw["cores"]
        self.spans = t["spans"]
        self.jobs, self.stages = t["jobs"], t["stages"]
        self.tasks, self.sqls = t["tasks"], t["sqls"]
        self.cached_peak_bytes = t["cached_peak_bytes"]

    @staticmethod
    def window(span):
        return span["start_ms"], span["end_ms"]

    @staticmethod
    def seconds(span):
        return (span["end_ms"] - span["start_ms"]) / 1e3

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def children(self, span, name):
        return [s for s in self.spans if s["parent"] == span["id"] and s["name"] == name]

    def jobs_in(self, span):
        lo, hi = self.window(span)
        return sum(1 for j in self.jobs if lo <= j["start_ms"] <= hi)

    def stages_in(self, span):
        lo, hi = self.window(span)
        return [s for s in self.stages if lo <= s["end_ms"] <= hi]

    def sum_stage(self, span, key):
        return sum(s[key] for s in self.stages_in(span))


def med_or_zero(values):
    return median(values) if values else 0.0


def per_layer(raw):
    """Every per-layer metric. A layer the workload does not exercise reads
    0: no span of that layer ran."""
    tr = Trace(raw)
    m = dict.fromkeys(per_layer_names(), 0.0)
    iters = tr.named("iter")
    cold = [s for s in iters if s["attrs"]["kind"] == "cold"]
    warm = [s for s in iters if s["attrs"]["kind"] == "warm"]
    if raw["workload"] == "queries_sf":
        warm = warm[WARMUP_SWEEPS:]

    def med(f, spans):
        return med_or_zero([f(s) for s in spans])

    builds = [c for w in warm for c in tr.children(w, "engine.build")]
    execs = [c for w in warm for c in tr.children(w, "engine.exec")]
    compiles = [c for w in warm for c in tr.children(w, "compile")]
    m["engine.build_s"] = med(tr.seconds, builds)
    m["engine.build_jobs"] = med(tr.jobs_in, builds)
    m["engine.exec_s"] = med(tr.seconds, execs)
    m["engine.exec_stages"] = med(lambda s: len(tr.stages_in(s)), execs)
    m["engine.input_passes"] = med(
        lambda s: sum(1 for st in tr.stages_in(s) if st["reads_cached_input"]), warm)
    m["engine.busy_frac"] = med(
        lambda s: busy_fraction(tr.tasks, tr.window(s), tr.cores), warm)
    m["engine.idle_s"] = med(lambda s: idle_time(tr.tasks, tr.window(s)) / 1e3, cold)
    m["engine.cached_mb_peak"] = tr.cached_peak_bytes / MB
    m["compile.s"] = med(tr.seconds, compiles)

    for op in tr.named("operator"):
        c = op["attrs"]["check"]
        for part, key in (("operator.build", "build_s"), ("operator.exec", "exec_s")):
            m[f"operators.{c}.{key}"] = sum(tr.seconds(s) for s in tr.children(op, part))
        m[f"operators.{c}.shuffle_mb"] = tr.sum_stage(op, "shuffle_write_bytes") / MB

    queries = tr.named("query")
    by_sweep = {}
    for q in queries:
        sweep = next(s for s in iters if s["start_ms"] <= q["start_ms"] <= s["end_ms"])
        by_sweep.setdefault(sweep["id"], []).append(q)
    warm_ids = [s["id"] for s in warm if s["id"] in by_sweep]
    for key, pick in (("module", QUERY_MODULES), ("name", NAMED_QUERIES)):
        for v in pick:
            prefix = f"queries.{v}" if key == "module" else f"query.{v}"
            for c in cold:
                m[f"{prefix}.cold_s"] = sum(tr.seconds(q) for q in by_sweep.get(c["id"], [])
                                            if q["attrs"][key] == v)
            m[f"{prefix}.warm_s"] = med_or_zero([
                sum(tr.seconds(q) for q in by_sweep[i] if q["attrs"][key] == v)
                for i in warm_ids])

    for c in cold:
        d = c["counters"]
        m["codegen.compiles"] = d["codegen_compiles"]
        m["codegen.compile_s"] = d["codegen_compile_ms"] / 1e3
        m["jit.compile_s"] = d["jit_ms"] / 1e3
        m["gc.s"] = d["gc_ms"] / 1e3

    for name, key, scale in (("shuffle.write_mb", "shuffle_write_bytes", MB),
                             ("shuffle.read_mb", "shuffle_read_bytes", MB),
                             ("shuffle.spill_mb", "spill_bytes", MB),
                             ("shuffle.fetch_wait_s", "fetch_wait_ms", 1e3),
                             ("sources.scan_mb", "input_bytes", MB)):
        m[name] = med(lambda s: tr.sum_stage(s, key) / scale, warm)

    calls = tr.named("store.call")
    if calls:
        m["store.unit_call_s"] = med(tr.seconds, calls)
        m["store.write_s"] = med(lambda s: sum(
            e - b for b, e in (clip((q["start_ms"], q["end_ms"]), tr.window(s))
                               for q in tr.sqls if q["writes_parquet"]) if e > b) / 1e3, calls)
        m["store.jobs_per_commit"] = slope(
            [s["attrs"]["committed_before"] for s in calls], [tr.jobs_in(s) for s in calls])
    store = raw.get("store")
    if store and raw.get("committed"):
        m["store.files"] = store["files"] / raw["committed"]
        m["store.bytes_mb"] = store["bytes"] / MB / raw["committed"]
    for s in tr.named("store.readback"):
        m["store.readback_s"] = tr.seconds(s)
        m["store.readback_jobs"] = tr.jobs_in(s)

    setup = raw.get("setup") or []
    if setup:
        m["sources.generate_s"] = median([r["generate_s"] for r in setup])
        m["sources.write_s"] = median([r["write_s"] for r in setup])

    traced = [s for s in warm_iterations(raw) if s["traced"]]
    untraced = [s for s in warm_iterations(raw) if not s["traced"]]
    if traced and untraced:
        m["trace.overhead_s"] = (median([s["wall_s"] for s in traced]) -
                                 median([s["wall_s"] for s in untraced]))
    return m


def slope(xs, ys):
    """Least-squares slope of ys over xs (0 with fewer than two points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0


def span_report(raw):
    """The traced run's report: self time per span name, each phase's busy
    fraction and idle time, the per-call resumable table and the tracing
    overhead."""
    tr = Trace(raw)
    self_ms = self_times(tr.spans)
    by_name = {}
    for s in tr.spans:
        agg = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += tr.seconds(s)
        agg["self_s"] += self_ms[s["id"]] / 1e3
    phases = []
    for s in tr.spans:
        if s["name"] in ("iter", "operator", "engine.build", "engine.exec", "store.call",
                         "store.readback"):
            w = tr.window(s)
            phases.append({"name": s["name"], "attrs": s["attrs"], "wall_s": tr.seconds(s),
                           "busy_frac": busy_fraction(tr.tasks, w, tr.cores),
                           "idle_s": idle_time(tr.tasks, w) / 1e3,
                           "jobs": tr.jobs_in(s), "stages": len(tr.stages_in(s))})
    calls = [{"committed_before": s["attrs"]["committed_before"], "wall_s": tr.seconds(s),
              "jobs": tr.jobs_in(s)} for s in tr.named("store.call")]
    return {"self_time": by_name, "phases": phases, "resumable_calls": calls,
            "per_layer": per_layer(raw)}


def write_spans(raw, path):
    with open(path, "w") as fh:
        for s in raw["trace"]["spans"]:
            fh.write(json.dumps(s) + "\n")


def main(work):
    with open(os.path.join(work, "raw.json")) as fh:
        raw = json.load(fh)
    json.dump(span_report(raw), sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main(sys.argv[1])
