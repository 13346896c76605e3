"""Metric arithmetic over one run's raw record (ops, rounds, spans).

Wall timings are medians over ops; times summed from Spark's
millisecond counters are per-op means. Per-layer metrics come from a
traced run's first traced round, whose op list is fixed by the seed, so
its counts (jobs, stages, tasks, query executions, bytes) repeat exactly
across traced runs of one seed however many rounds fit in the window.
"""
import math
import statistics

SERVE_FAMILIES = ("bq",)

# The metrics a result line carries, as BENCHMARK.json lists them: those
# defined on both workloads. Everything else `end_to_end` and `per_layer`
# compute goes to the run line's "detail" instead: the metrics of one
# workload only, and `op_p50_ms`. That one is defined on both, but on
# `analytics` it is a median of first executions, which depend on the
# order the seed sets: over six seeds its quartile spread was 0.15 of
# its median, against 0.03 for the round's wall time.
RESULT_END_TO_END = ("setup_s", "ops_per_s")
RESULT_PER_LAYER = (
    "driver.jobs", "driver.stages", "driver.tasks", "driver.job_wall_ms", "driver.gap_ms",
    "plans.executions", "plans.optimization_ms", "plans.planning_ms",
    "executor.task_cpu_ms", "executor.task_run_ms", "executor.gc_ms",
    "executor.shuffle_read_bytes", "executor.shuffle_write_bytes",
    "sources.scan_bytes", "sources.scan_rows", "sources.files_read",
    "jvm.heap_used_peak_mb", "jvm.gc_ms", "trace.overhead")
HIGHER_IS_BETTER = {"ops_per_s", "serve_recall_min", "etl_rows_per_s"}


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


def tail_supported(n, p, beyond=10):
    """True when `n` samples leave at least `beyond` samples above the
    p-quantile, the rule for reporting that percentile."""
    return n - math.ceil(p * n) >= beyond


def quantile(xs, p):
    """Linear-interpolated p-quantile of a non-empty sample."""
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return statistics.median(xs) if xs else None


def mean(xs):
    return sum(xs) / len(xs) if xs else None


class Trace:
    """Spans of one run indexed by op, with per-op aggregates."""

    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.by_op = {}
        for s in spans:
            self.by_op.setdefault(s["op"], []).append(s)

    def jobs(self, op_id, under=None):
        """Job spans of an op, or only those under the span named `under`."""
        out = []
        for s in self.by_op.get(op_id, []):
            if s["name"] != "job" or s["end_ms"] is None:
                continue
            if under is None or self.by_id[s["parent"]]["name"] == under:
                out.append(s)
        return out

    def root(self, op_id):
        return next(s for s in self.by_op[op_id] if s["parent"] == -1)

    def counter(self, op_id, key, under=None):
        """Sum of a counter over an op's spans (or one layer's jobs)."""
        spans = self.jobs(op_id, under) if under else self.by_op.get(op_id, [])
        return sum(s["c"].get(key, 0.0) for s in spans)

    def job_union_ms(self, op_id):
        r = self.root(op_id)
        iv = [(j["start_ms"], j["end_ms"]) for j in self.jobs(op_id)]
        return union_ms(clip(iv, r["start_ms"], r["end_ms"]))

    def gap_ms(self, op_id):
        """Op wall time not covered by any of its jobs: driver-side time."""
        r = self.root(op_id)
        return (r["end_ms"] - r["start_ms"]) - self.job_union_ms(op_id)

    def self_ms(self, span_name, op_id):
        """A layer span's duration less the part its jobs cover."""
        s = next((x for x in self.by_op.get(op_id, []) if x["name"] == span_name), None)
        if s is None:
            return None
        iv = [(j["start_ms"], j["end_ms"]) for j in self.jobs(op_id, span_name)]
        return (s["end_ms"] - s["start_ms"]) - union_ms(clip(iv, s["start_ms"], s["end_ms"]))


def rate(ops, rounds):
    """Ops completed per second over the wall time of the given rounds."""
    wall = sum(r["end_ms"] - r["start_ms"] for r in rounds) / 1e3
    return sum(1 for o in ops if o["ok"]) / wall if wall > 0 else None


def window_ops(raw, traced):
    rounds = [r for r in raw["rounds"] if r["traced"] == traced]
    ids = {r["round"] for r in rounds}
    return [o for o in raw["ops"] if o["round"] in ids], rounds


def trace_overhead(raw):
    """Untraced over traced ops_per_s. Each traced round is set against
    the mean rate of the untraced rounds just before and after it, so a
    steady speed-up from round to round (warm-up) cancels out."""
    by = {r["round"]: r for r in raw["rounds"]}

    def round_rate(n):
        return rate([o for o in raw["ops"] if o["round"] == n], [by[n]])
    ratios = [mean([round_rate(n - 1), round_rate(n + 1)]) / round_rate(n)
              for n, r in by.items()
              if r["traced"] and not by.get(n - 1, r)["traced"]
              and not by.get(n + 1, r)["traced"]]
    return mean(ratios)


def split(result, names):
    """(the named metrics, the rest). A named metric without a value is
    an error: a result line must carry every one."""
    missing = [n for n in names if n not in result]
    if missing:
        raise ValueError(f"no value for {', '.join(missing)}")
    return ({n: result[n] for n in names},
            {k: v for k, v in result.items() if k not in names})


def p50(ops, pred=lambda o: True):
    return median([o["dur_ms"] for o in ops if o["ok"] and pred(o)])


def end_to_end(workload, raw, checks):
    """The workload's end-to-end metrics from its untraced rounds:
    {name: (value, unit)}. A metric without samples is left out."""
    ops, rounds = window_ops(raw, traced=False)
    ok = [o for o in ops if o["ok"]]
    lat = [o["dur_ms"] for o in ok]
    m = {"setup_s": (raw["setup_s"], "s"), "ops_per_s": (rate(ops, rounds), "ops/s"),
         "op_p50_ms": (median(lat), "ms")}
    if workload == "analytics":
        if tail_supported(len(lat), 0.9):
            m["op_p90_ms"] = (quantile(lat, 0.9), "ms")
    else:
        for fam in SERVE_FAMILIES:
            m[f"serve_{fam}_p50_ms"] = (p50(ok, lambda o, f=fam: o["kind"] == "serve" and o["name"] == f), "ms")
        m["serve_recall_min"] = (min(checks["recall"].values()), "ratio") if checks["recall"] else (None, "ratio")
        etl = [o for o in ok if o["kind"] == "etl"]
        run_ms = sum(o["t"]["etl.App.run"] for o in etl)
        committed = sum(sum(rb[0] for rb in o["out"]["readback"]) for o in etl)
        m["etl_rows_per_s"] = (committed / run_ms * 1e3 if run_ms else None, "rows/s")
        m["lsm_ingest_p50_ms"] = (p50(ok, lambda o: o["kind"] == "lsm" and not o["out"]["compacted"]), "ms")
        m["lsm_compact_p50_ms"] = (p50(ok, lambda o: o["kind"] == "lsm" and o["out"]["compacted"]), "ms")
        m["dedup_p50_ms"] = (p50(ok, lambda o: o["kind"] == "dedup"), "ms")
    return {k: v for k, v in m.items() if v[0] is not None}


def per_layer(workload, raw, checks):
    """Per-layer metrics of a traced run, from its first traced round (the
    round an untraced run measures): {name: (value, unit)}."""
    tr = Trace(raw["spans"])
    first = next(r for r in raw["rounds"] if r["traced"])
    ops = [o for o in raw["ops"] if o["round"] == first["round"] and o["ok"]]
    ids = [o["op_id"] for o in ops]
    m = {}

    def per_op_mean(key, ids_=ids):
        return mean([tr.counter(i, key) for i in ids_])

    def jobs(ops_):
        return mean([len(tr.jobs(o["op_id"])) for o in ops_])

    m["driver.jobs"] = (jobs(ops), "count")
    m["driver.stages"] = (per_op_mean("stages"), "count")
    m["driver.tasks"] = (per_op_mean("tasks"), "count")
    # times built from ms-resolution counters are means, not medians, so
    # that they keep their digits
    m["driver.job_wall_ms"] = (mean([tr.job_union_ms(i) for i in ids]), "ms")
    m["driver.gap_ms"] = (median([tr.gap_ms(i) for i in ids]), "ms")
    m["plans.executions"] = (per_op_mean("qe"), "count")
    # the analysis phase is left out: API-built DataFrames are analyzed
    # eagerly when built (inside operators.call), so the executed plan's
    # tracker reports it as 0 ms
    for ph in ("optimization", "planning"):
        m[f"plans.{ph}_ms"] = (per_op_mean(f"{ph}_ms"), "ms")
    for k in ("task_cpu_ms", "task_run_ms", "gc_ms"):
        m[f"executor.{k}"] = (per_op_mean(k), "ms")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"executor.{k}"] = (per_op_mean(k), "bytes")
    m["sources.scan_bytes"] = (per_op_mean("input_bytes"), "bytes")
    m["sources.scan_rows"] = (per_op_mean("input_rows"), "rows")
    m["sources.files_read"] = (per_op_mean("files_read"), "count")
    m["jvm.gc_ms"] = (first["gc_ms"] / len(ops), "ms")
    m["jvm.heap_used_peak_mb"] = (raw["meta"]["heap_used_peak_mb"], "MB")
    m["trace.overhead"] = (trace_overhead(raw), "ratio")

    if workload == "analytics":
        for layer in ("call", "sink"):
            name = f"operators.{layer}"
            m[f"{name}_ms"] = (median([o["t"][name] for o in ops]), "ms")
            m[f"{name}_self_ms"] = (median([tr.self_ms(name, i) for i in ids]), "ms")
        return m

    corpus_rows = raw["setup"]["corpus_rows"]
    for fam in SERVE_FAMILIES:
        f_ops = [o for o in ops if o["kind"] == "serve" and o["name"] == fam]
        f_ids = [o["op_id"] for o in f_ops]
        p = f"llm.serve.{fam}"
        m[f"{p}.call_ms"] = (median([o["t"][p] for o in f_ops]), "ms")
        m[f"{p}.jobs"] = (jobs(f_ops), "count")
        m[f"{p}.files_read"] = (per_op_mean("files_read", f_ids), "count")
        m[f"{p}.rows_read_frac"] = (per_op_mean("input_rows", f_ids) / corpus_rows, "ratio")
        m[f"{p}.recall_at_k"] = (checks["recall"][fam], "ratio")
    builds = [s for s in raw["spans"] if s["parent"] == -1 and s["name"].startswith("setup:llm.build.")]
    for key in [f"{f}_s" for f in SERVE_FAMILIES] + ["lsm_s"]:
        m[f"llm.build.{key}"] = (raw["setup"][f"llm.build.{key}"], "s")
    m["llm.build.jobs"] = (float(sum(len(tr.jobs(s["op"])) for s in builds)), "count")

    lsm = [o for o in ops if o["kind"] == "lsm"]
    compacted = [o for o in lsm if o["out"]["compacted"]]
    m["llm.lsm.jobs_per_batch"] = (jobs(lsm), "count")
    m["llm.lsm.compactions"] = (float(len(compacted)), "count")
    m["llm.lsm.live_segments"] = (mean([o["out"]["live_segments"] for o in lsm]), "count")
    # deltas and compacted bases alike, over the rows that arrived
    m["llm.lsm.bytes_written_per_row"] = (
        sum(tr.counter(o["op_id"], "output_bytes") for o in lsm) /
        sum(o["out"]["rows"] for o in lsm), "bytes")
    m["llm.lsm.bytes_rewritten"] = (mean([o["out"]["rewritten_bytes"] for o in compacted]), "bytes")

    dd = [o for o in ops if o["kind"] == "dedup"]
    m["llm.dedup.jobs"] = (jobs(dd), "count")
    m["llm.dedup.task_cpu_ms"] = (per_op_mean("task_cpu_ms", [o["op_id"] for o in dd]), "ms")
    m["llm.dedup.candidates_per_dup"] = (checks["dedup_found"] / checks["dedup_planted"], "ratio")

    etl = [o for o in ops if o["kind"] == "etl"]
    committed = [sum(rb[0] for rb in o["out"]["readback"]) for o in etl]
    m["etl.rows_committed"] = (mean(committed), "rows")
    m["etl.bytes_written_per_row"] = (
        sum(tr.counter(o["op_id"], "output_bytes") for o in etl) / sum(committed), "bytes")
    m["etl.files_written"] = (mean([o["out"]["files"] for o in etl]), "count")
    for k in ("write", "commit", "readback"):
        xs = [o["t"][f"etl.{k}"] for o in etl if f"etl.{k}" in o["t"]]
        m[f"etl.{k}_ms"] = (median(xs), "ms")
    for k, v in raw["setup"].get("kernels", {}).items():
        m[k] = (v, "ns")
    return {k: v for k, v in m.items() if v[0] is not None}
