"""Metric arithmetic for the benchmark: pure functions over the JVM's run
record, the oracle check's record and the trace's spans, so that each
rule can be tested without Spark."""
import statistics

# (name, unit, better); the order is the order they are printed in.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cold_setup_s", "s", "lower"),
    ("first_pass_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("cpu_core_s", "core-s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("peak_heap_mb", "MB", "lower"),
    ("ok_share", "ratio", "higher"),
]

# (name, unit, better) of the traced run's layer counters, summed over
# one warm pass (the median over the run's measured warm passes is
# reported).
PER_LAYER = [
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("planner.analysis_s", "s", "lower"),
    ("planner.optimization_s", "s", "lower"),
    ("planner.planning_s", "s", "lower"),
    ("scheduler.jobs", "count", "lower"),
    ("scheduler.stages", "count", "lower"),
    ("scheduler.tasks", "count", "lower"),
    ("scheduler.driver_s", "s", "lower"),
    ("scheduler.stage_busy_share", "ratio", "higher"),
    ("scheduler.task_failures", "count", "lower"),
    ("scan.bytes_read", "bytes", "lower"),
    ("scan.records_read", "count", "lower"),
    ("scan.records_per_output_row", "ratio", "lower"),
    ("exchange.shuffle_write_bytes", "bytes", "lower"),
    ("exchange.shuffle_read_bytes", "bytes", "lower"),
    ("exchange.shuffle_records", "count", "lower"),
    ("exchange.fetch_wait_s", "s", "lower"),
    ("compute.task_run_s", "s", "lower"),
    ("compute.task_cpu_s", "s", "lower"),
    ("compute.gc_s", "s", "lower"),
    ("compute.cpu_per_run", "ratio", "higher"),
    ("spill.memory_bytes", "bytes", "lower"),
    ("spill.disk_bytes", "bytes", "lower"),
    ("spill.peak_exec_mem_mb", "MB", "lower"),
    ("sink.bytes_written", "bytes", "lower"),
    ("sink.records_written", "count", "lower"),
    ("checkpoint.blocks", "count", "lower"),
    ("checkpoint.bytes", "bytes", "lower"),
]


def query_failures(record, check):
    """{query: [reasons]} for every query that threw in any pass or in the
    oracle dump, or whose dump disagreed with the oracle. `check` is the
    oracle check's per-query record ({query: {"err": ...}}); a query
    missing from it was never compared and fails too."""
    names = [q["name"] for q in record["passes"][0]["queries"]]
    reasons = {n: [] for n in names}
    for p in record["passes"]:
        for q in p["queries"]:
            if q.get("error"):
                reasons[q["name"]].append(f"{p['kind']} pass {p['index']}: {q['error']}")
    for n, err in record.get("verify_errors", {}).items():
        reasons.setdefault(n, []).append(f"oracle dump: {err}")
    for n in names:
        c = check.get(n)
        if c is None:
            reasons[n].append("oracle: not compared")
        elif c.get("err"):
            reasons[n].append(f"oracle: {c['err']}")
    return {n: r for n, r in reasons.items() if r}


def pass_wall(p):
    """Time-to-result of one pass: each query's constructor call plus its
    write, summed (the listener drains between queries are excluded)."""
    return sum(q["build_s"] + q["execute_s"] for q in p["queries"])


def pass_counter(p, key, agg=sum):
    return agg([q["counters"].get(key, 0) for q in p["queries"]] or [0])


def measured(record):
    """The passes the metrics use: the warm passes after the warm-up
    passes, which still pay JIT warm-up."""
    return [p for p in record["passes"] if p["kind"] == "warm"]


def end_to_end(record, failures):
    """The end-to-end metrics. The run's first set-up is cold (a fresh
    JVM); setup_s is the median of the others. rows_per_s is the input
    rows the tasks scanned in a measured warm pass over wall_s."""
    passes = record["passes"]
    warm = measured(record)
    n = len(passes[0]["queries"])
    wall = statistics.median(pass_wall(p) for p in warm)
    return {
        "setup_s": statistics.median(record["setup_s"][1:]),
        "cold_setup_s": record["setup_s"][0],
        "first_pass_s": pass_wall(passes[0]),
        "wall_s": wall,
        "cpu_core_s": statistics.median(pass_counter(p, "task_cpu_ns") / 1e9 for p in warm),
        "rows_per_s": statistics.median(pass_counter(p, "records_read") for p in warm) / wall,
        "peak_heap_mb": record["peak_heap_mb"],
        "ok_share": (n - len(failures)) / n,
    }


def union_us(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def normalized(spans):
    """The spans with each one clipped to its (clipped) parent's interval:
    job and stage times come from the scheduler's millisecond clock, so a
    job can start up to a millisecond before the call that submitted it."""
    by_id = {s["id"]: dict(s) for s in spans}
    kids = children_of(spans)
    todo = [s for s in by_id.values() if s["parent"] not in by_id]
    while todo:
        p = todo.pop()
        for c in kids.get(p["id"], []):
            n = by_id[c["id"]]
            n["start_us"] = min(max(n["start_us"], p["start_us"]), p["end_us"])
            n["end_us"] = max(min(n["end_us"], p["end_us"]), n["start_us"])
            todo.append(n)
    return list(by_id.values())


def self_times(spans):
    """{span id: self time in us}: the span's duration minus the part of
    it that its (normalized) children cover."""
    spans = normalized(spans)
    kids = children_of(spans)
    return {s["id"]: (s["end_us"] - s["start_us"])
            - union_us([(c["start_us"], c["end_us"]) for c in kids.get(s["id"], [])])
            for s in spans}


def subtree_residuals(spans):
    """{span id: its duration minus the self times of every span in its
    subtree}. Zero when no two siblings below it overlap; otherwise the
    overlap (concurrent jobs or stages), which self time counts once."""
    spans = normalized(spans)
    kids = children_of(spans)
    st = self_times(spans)
    total = {}

    def subtree(s):
        if s["id"] not in total:
            total[s["id"]] = st[s["id"]] + sum(subtree(c) for c in kids.get(s["id"], []))
        return total[s["id"]]
    return {s["id"]: (s["end_us"] - s["start_us"]) - subtree(s) for s in spans}


NESTING = {"workload": None, "pass": "workload", "query": "pass", "build": "query",
           "execute": "query", "job": ("build", "execute"), "stage": "job"}


def nesting_errors(spans, tolerance_us=1000):
    """Spans whose parent has the wrong kind, or that lie outside their
    parent by more than `tolerance_us` (the scheduler's clock resolution)."""
    by_id = {s["id"]: s for s in spans}
    errors = []
    for s in spans:
        want = NESTING.get(s["kind"])
        p = by_id.get(s["parent"])
        if want is None:
            if s["parent"] != -1:
                errors.append(f"{s['kind']} {s['id']} is not a root")
            continue
        kinds = want if isinstance(want, tuple) else (want,)
        if p is None or p["kind"] not in kinds:
            errors.append(f"{s['kind']} {s['id']} has parent {p and p['kind']}")
        elif s["start_us"] < p["start_us"] - tolerance_us or s["end_us"] > p["end_us"] + tolerance_us:
            errors.append(f"{s['kind']} {s['id']} lies outside its {p['kind']}")
    return errors


def execute_stage_cover(spans):
    """{execute span id: (duration us, union of its stages' spans us)}."""
    spans = normalized(spans)
    kids = children_of(spans)
    return {s["id"]: (s["end_us"] - s["start_us"],
                      union_us([(st["start_us"], st["end_us"]) for j in kids.get(s["id"], [])
                                for st in kids.get(j["id"], [])]))
            for s in spans if s["kind"] == "execute"}


def per_layer(record, rows_out):
    """Layer counters per measured warm pass, then their median.
    `rows_out` is the workload's total output rows (from the oracle
    check), the denominator of scan.records_per_output_row."""
    spans = record.get("spans", [])
    cover = execute_stage_cover(spans)
    kids = children_of(spans)
    values = []
    for p in measured(record):
        ps = next((s for s in spans if s["kind"] == "pass" and s["name"] == f"warm {p['index']}"), None)
        execs = [c for q in kids.get(ps["id"], []) for c in kids.get(q["id"], [])
                 if c["kind"] == "execute"] if ps else []
        exec_us = sum(cover[e["id"]][0] for e in execs)
        busy_us = sum(cover[e["id"]][1] for e in execs)
        c = lambda k, agg=sum: pass_counter(p, k, agg)
        cpu_s = c("task_cpu_ns") / 1e9
        run_s = c("run_ms") / 1e3
        values.append({
            "queries.build_s": sum(q["build_s"] for q in p["queries"]),
            "queries.build_jobs": c("build_jobs"),
            "planner.analysis_s": c("analysis_ms") / 1e3,
            "planner.optimization_s": c("optimization_ms") / 1e3,
            "planner.planning_s": c("planning_ms") / 1e3,
            "scheduler.jobs": c("jobs"),
            "scheduler.stages": c("stages"),
            "scheduler.tasks": c("tasks"),
            "scheduler.driver_s": (exec_us - busy_us) / 1e6,
            "scheduler.stage_busy_share": busy_us / exec_us if exec_us else 0.0,
            "scheduler.task_failures": c("task_failures"),
            "scan.bytes_read": c("bytes_read"),
            "scan.records_read": c("records_read"),
            "scan.records_per_output_row": c("records_read") / max(rows_out, 1),
            "exchange.shuffle_write_bytes": c("shuffle_write_bytes"),
            "exchange.shuffle_read_bytes": c("shuffle_read_bytes"),
            "exchange.shuffle_records": c("shuffle_records"),
            "exchange.fetch_wait_s": c("fetch_wait_ms") / 1e3,
            "compute.task_run_s": run_s,
            "compute.task_cpu_s": cpu_s,
            "compute.gc_s": c("gc_ms") / 1e3,
            "compute.cpu_per_run": cpu_s / run_s if run_s else 0.0,
            "spill.memory_bytes": c("memory_spill_bytes"),
            "spill.disk_bytes": c("disk_spill_bytes"),
            "spill.peak_exec_mem_mb": c("peak_exec_mem_bytes", max) / 1048576,
            "sink.bytes_written": c("bytes_written"),
            "sink.records_written": c("records_written"),
            "checkpoint.blocks": c("checkpoint_blocks"),
            "checkpoint.bytes": c("checkpoint_bytes"),
        })
    return {k: statistics.median(v[k] for v in values) for k, _, _ in PER_LAYER}
