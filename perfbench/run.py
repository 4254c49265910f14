#!/usr/bin/env python3
"""The engine's end-to-end benchmark: one workload, one fresh JVM.

    python3 perfbench/run.py --workload etl|multijob [--seed 42]
        [--seconds 30] [--trace 0|1]

Run from the root of a checkout. It builds the harness and the engine from
source (sbt, first run only), generates the workload's inputs from the
seed (perfbench/gen.py, outside every metric), runs the workload in a
fresh JVM (perfbench.Main), checks every query's output against the
DuckDB oracle with scripts/check.py, and prints one JSON object as the
last line of stdout. With --trace 0 its metrics are the end-to-end
metrics; with --trace 1, the per-layer counters of a traced run. The full
record, spans included, is written under perfbench/.work/.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Closed loop, one client. Each workload is (factor, a subset of
# SparkEntry.queries) small enough that a run (fresh JVM, set-up, first
# pass, 30 s of warm-up and measured passes, oracle dump and check) ends
# in about a minute on a 4-core host.
WORKLOADS = {
    # The paper's reference pipeline (pruned scan, aggregate, star join,
    # keep-first, messy dates) at factor 0.1, where scan and compute are a
    # visible share of the time and each query runs few jobs.
    "etl": (0.1, ["q01_pruned_scan", "q02_agg_pricing", "q03_region_revenue",
                  "q06_keep_first", "q12_date_parts"]),
    # Many jobs per query: iterative graph rounds with checkpoints and a
    # shuffle per round over the part co-occurrence graph (exchange- and
    # CPU-heavy), then file writes (sharded export with manifests, CSV
    # round-trip) where driver dispatch and commit dominate.
    "multijob": (0.01, ["q136_graph_components", "q93_export_concat",
                        "q38_csv_roundtrip"]),
}

JVM_TIMEOUT_S = 150
# A fixed 1 GiB heap, so that garbage collections and peak_heap_mb repeat
# between runs, and no UI. They go after the engine's own JVM options,
# which the build writes out (see build()).
BENCH_OPTS = ["-Xms1g", "-Xmx1g", "-Dspark.ui.enabled=false"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (cached by source hash); returns
    the runtime classpath and the engine's JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")
    stamp = source_stamp()
    out = os.path.join(HERE, ".build")
    cp_file = os.path.join(out, "classpath")
    opts_file = os.path.join(out, "java-options")
    if os.path.exists(cp_file) and os.path.exists(opts_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), engine_java_options(opts_file)
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
        + ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
           if os.path.exists(repos) else []))
    log("building engine and harness with sbt (first run only)")
    t0 = time.monotonic()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeEngineJavaOptions", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("[") or not os.path.exists(opts_file):
        fail(f"sbt build failed (see {out}/sbt.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return cp, engine_java_options(opts_file)


def engine_java_options(path):
    """The engine's JVM options as its build writes them, less its heap
    size (the benchmark fixes its own)."""
    with open(path) as f:
        return [o for o in f.read().splitlines()
                if o and not o.startswith(("-Xms", "-Xmx"))]


def run_jvm(cp, java_opts, workload, queries, data_dir, seconds, trace, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    cmd = (["java"] + java_opts + BENCH_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", "--workload", workload, "--queries", ",".join(queries),
           "--data", data_dir, "--seconds", str(seconds), "--trace", str(trace),
           "--out", out, "--verify-out", os.path.join(work, "verify")])
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload JVM exceeded {JVM_TIMEOUT_S} s (see {work}/jvm.log)")
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"workload JVM exited with {r.returncode} (see {work}/jvm.log)")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out) as f:
        return json.load(f)


def oracle_check(data_dir, work):
    """scripts/check.py's compare, on this run's inputs and dump; returns
    its per-query record."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "scripts", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = os.path.join(work, "check.json")
    with open(os.path.join(work, "check.log"), "w") as lf, contextlib.redirect_stdout(lf):
        check.main(data_dir, os.path.join(work, "verify"), out)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    factor, queries = WORKLOADS[a.workload]

    cp, java_opts = build()
    data_dir, rows = gen.generate(a.seed, factor)
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    record = run_jvm(cp, java_opts, a.workload, queries, data_dir, a.seconds, a.trace, work)
    check = oracle_check(data_dir, work)
    failures = metrics.query_failures(record, check)
    e2e = metrics.end_to_end(record, failures)
    out_rows = {q: (check.get(q) or {}).get("spark_rows") for q in queries}
    layer = metrics.per_layer(record, sum(r or 0 for r in out_rows.values())) if a.trace else None

    detail = {
        "workload": a.workload, "seed": a.seed, "factor": factor, "trace": a.trace,
        "queries": queries, "input_rows": rows, "cpus": record["cpus"],
        "probe_s": record["probe_s"], "setup_runs_s": record["setup_s"],
        "gc_count": record["gc_count"], "heap_after_gc_max_mb": record["heap_after_gc_max_mb"],
        "warmup_passes": sum(p["kind"] == "warmup" for p in record["passes"]),
        "measured_passes": len(metrics.measured(record)),
        "end_to_end": e2e, "failed_share": len(failures) / len(queries),
        "failures": failures, "output_rows": out_rows,
        "zero_row_queries": [q for q, r in out_rows.items() if r == 0],
    }
    if a.trace:
        spans = record["spans"]
        residuals = metrics.subtree_residuals(spans)
        kinds = {s["id"]: s["kind"] for s in spans}
        detail.update({
            "per_layer": layer, "unattributed_jobs": record["unattributed_jobs"],
            "spans": len(spans), "nesting_errors": metrics.nesting_errors(spans),
            "max_residual_us": {k: max((abs(r) for i, r in residuals.items() if kinds[i] == k), default=0)
                                for k in ("workload", "pass", "query", "build", "execute", "job")},
        })
        self_us = metrics.self_times(spans)
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump([dict(s, self_us=self_us[s["id"]]) for s in spans], f)
    with open(os.path.join(work, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1)

    for t in gen.TABLES:
        print(f"input {t}: {rows[t]} rows")
    print(f"probe_s {record['probe_s']:.4f} (diagnostic only)")
    for name, unit, _ in metrics.END_TO_END:
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"failed_share {detail['failed_share']:.6g}")
    for q, r in failures.items():
        print(f"FAILED {q}: {' | '.join(r)}")
    for q in detail["zero_row_queries"]:
        print(f"ZERO ROWS {q}")
    if layer:
        for name, unit, _ in metrics.PER_LAYER:
            print(f"{name} {layer[name]:.6g} {unit}")
    print(json.dumps(result(queries, failures, layer if a.trace else e2e, a.trace)))


def result(queries, failures, values, trace):
    """The last stdout line: every end-to-end metric (--trace 0) or every
    per-layer metric (--trace 1), with the query-level failure count."""
    chosen = metrics.PER_LAYER if trace else metrics.END_TO_END
    return {"correct": not failures, "attempted": len(queries), "failed": len(failures),
            "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in chosen}}


if __name__ == "__main__":
    main()
