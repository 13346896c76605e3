#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (once per source state),
writes the fixture corpus (once per checkout) and the run's seeded inputs,
runs one JVM on local[4] with a single client thread, checks every op's
output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) that BENCHMARK.json lists, those defined on both
workloads. The line before it records the run: seed, source revision,
nproc, Spark and JDK versions, fixture dir, where the spans were written
when traced, and under "detail" the metrics of this workload alone.
See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

from bench import checks, gen, metrics  # noqa: E402

WORKLOADS = ("analytics", "serve_ingest")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"perfbench: engine sources not found ({', '.join(missing)}); "
                         "run from the root of a full checkout")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine and benchmark with sbt when their sources changed;
    returns (classpath, source stamp)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "build", f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    log("building engine and benchmark (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip(), stamp


def fixtures():
    """The fixture corpus, written once per generator version."""
    with open(os.path.join(HERE, "bench", "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(WORK, f"fixtures-{version}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        gen.write_fixtures(tmp)
        os.replace(tmp, d)
    return d


def revision(stamp):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip()
    except OSError:
        sha = ""
    return f"git:{sha}" if sha else f"source:{stamp[:16]}"


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc})")


def check(workload, raw, inputs, fixture_dir):
    """Runs every output check, marking failed ops in place; returns the
    check results the metrics use."""
    ops = raw["ops"]
    if workload == "analytics":
        checks.oracle(ops, raw["setup"]["oracle_sql"], fixture_dir)
        return {}
    corpus_rows = raw["setup"]["corpus_rows"]
    truth = checks.load_truth(inputs, gen.PROBE_BATCH)
    recall = checks.serve(ops, truth, set(range(corpus_rows)), gen.TOP_K)
    with open(os.path.join(inputs, "planted_dups.json")) as f:
        found, planted = checks.dedup(ops, json.load(f))
    checks.etl(ops)
    checks.lsm(ops, raw["setup"]["lsm_root"], checks.load_lsm_arrivals(inputs),
               raw["setup"]["lsm_setup_batches"], gen.lsm_seed_live(corpus_rows))
    return {"recall": recall, "dedup_found": found, "dedup_planted": planted}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, stamp = build()
    fixture_dir = fixtures()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    try:
        gen.write_run_inputs(a.workload, a.seed, fixture_dir, inputs)
        os.makedirs(out)
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     fixture_dir, inputs, out], run_dir)
        with open(os.path.join(out, "raw.json")) as f:
            raw = json.load(f)
        chk = check(a.workload, raw, inputs, fixture_dir)
        for o in raw["ops"]:
            if not o["ok"]:
                log(f"op failed: {o['kind']} {o['name']}: {o['err']}")
        attempted, failed, failed_frac = checks.tally(raw["ops"])
        pick, names = ((metrics.per_layer, metrics.RESULT_PER_LAYER) if a.trace
                       else (metrics.end_to_end, metrics.RESULT_END_TO_END))
        try:
            result, detail = metrics.split(pick(a.workload, raw, chk), names)
        except ValueError as e:
            raise SystemExit(f"perfbench: {e}")
        meta = dict(raw["meta"], seed=a.seed, workload=a.workload,
                    setup={k: v for k, v in raw["setup"].items() if isinstance(v, (int, float))},
                    revision=revision(stamp), fixtures=os.path.relpath(fixture_dir, ROOT),
                    failed_frac=failed_frac)
        if a.trace:
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
            with open(path, "w") as f:
                json.dump({"meta": meta, "rounds": raw["rounds"], "ops": raw["ops"],
                           "spans": raw["spans"]}, f)
            meta["spans"] = os.path.relpath(path, ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, (v, unit) in sorted({**result, **detail}.items()):
        log(f"{k:40s} {v:14.4f} {unit}{'' if k in result else '  (detail)'}")
    log(f"attempted {attempted}, failed {failed}, failed_frac {failed_frac:.4f}")
    print(json.dumps({"run": meta, "detail": {k: {"value": v, "unit": u}
                                              for k, (v, u) in detail.items()}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()}}))


if __name__ == "__main__":
    main()
