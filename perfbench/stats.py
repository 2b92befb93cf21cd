"""Turns the JVM driver's raw measurements (`run.json`, `spans.json`) into
the benchmark's metrics. Pure functions, so the tests can feed them
synthetic runs."""
import math
import statistics

MB = 1024.0 * 1024.0
CATALYST = ("analysis", "optimization", "planning")
TAIL = 0.1


def tail_count(n, frac):
    """The sample-count rule of the tail metric: the slowest `frac` of n
    samples, rounded up, and at least one."""
    return max(1, math.ceil(n * frac))


def tail_mean(values, frac):
    """Mean of the slowest `frac` of the values."""
    s = sorted(values)
    return statistics.mean(s[-tail_count(len(s), frac):])


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def timed_execs(run):
    return [e for p in run["passes"] for e in p["execs"]]


def failures(run, problems):
    """Executions attempted and failed. An execution fails if it threw, or
    if its id's checked output disagreed with the oracle (every execution
    of such an id runs the same code, so all of them count). Returns
    (attempted, failed, {id: reason})."""
    execs = run["warmup"] + timed_execs(run)
    failed = sum(1 for e in execs if e["error"] or e["id"] in problems)
    reasons = dict(problems)
    for e in execs:
        if e["error"] and e["id"] not in reasons:
            reasons[e["id"]] = f"threw: {e['error']}"
    return len(execs), failed, reasons


def untraced_execs(run):
    """Every timed execution outside traced passes that did not throw."""
    return [e for p in run["passes"] if not p["traced"]
            for e in p["execs"] if not e["error"]]


def untraced_latencies(run):
    return [e["latency_s"] for e in untraced_execs(run)]


def tail_ids(run):
    """How many of the slowest TAIL of the untraced executions each id
    contributes: the ids that `query_tail10_s` measures."""
    execs = sorted(untraced_execs(run), key=lambda e: e["latency_s"])
    out = {}
    for e in execs[-tail_count(len(execs), TAIL):]:
        out[e["id"]] = out.get(e["id"], 0) + 1
    return out


def end_to_end(run, attempted, failed):
    passes = [p for p in run["passes"] if not p["traced"]]
    lat = untraced_latencies(run)
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(lat),
        "query_tail10_s": tail_mean(lat, TAIL),
        "setup_s": run["setup"]["setup_s"],
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_heap_mb": run["peak_live_heap_mb"],
        "ok_frac": 1.0 - failed / attempted,
    }


def per_id(run, rows):
    """Per query id: first (check-pass) latency, median timed latency,
    output rows and, from traced passes, the mean of each counter. These
    are the per-query rows to diff between runs."""
    counters = ("construct_jobs", "jobs", "stages", "tasks", "max_op_rows",
                "codegen_compiles", "files_discovered", "shuffle_write_b")
    out = {}
    for e in run["warmup"]:
        mine = [x for x in timed_execs(run) if x["id"] == e["id"]]
        lat = [x["latency_s"] for x in mine if not x["error"] and not x["traced"]]
        traced = [x for x in mine if x["traced"]]
        out[e["id"]] = {"module": e["module"], "first_s": e["latency_s"],
                        "median_s": statistics.median(lat) if lat else None,
                        "rows": rows.get(e["id"])}
        if traced:
            out[e["id"]].update({c: statistics.mean(x.get(c, 0) for x in traced)
                                 for c in counters})
            out[e["id"]].update({
                "construct_s": statistics.mean(x["construct_s"] for x in traced),
                "catalyst_s": statistics.mean(_catalyst_s(x) for x in traced),
                "execute_s": statistics.mean(_execute_s(x) for x in traced)})
    return out


def _catalyst_s(e):
    return sum(e.get(f"{p}_ms", 0) for p in CATALYST) / 1e3


def _execute_s(e):
    return max(0.0, e["action_s"] - _catalyst_s(e))


def per_layer(run, modules, rows, attempted, failed):
    """Per-module and workload totals over the traced passes, per pass."""
    traced = [p for p in run["passes"] if p["traced"]]
    untraced = [p for p in run["passes"] if not p["traced"]]
    n = len(traced)
    execs = [e for p in traced for e in p["execs"]]
    out = {}

    def module_totals(es, warm):
        def tot(f):
            return sum(f(e) for e in es) / n
        return {
            "construct_s": tot(lambda e: e["construct_s"]),
            "construct_jobs": tot(lambda e: e.get("construct_jobs", 0)),
            "catalyst_s": tot(_catalyst_s),
            "execute_s": tot(_execute_s),
            "jobs": tot(lambda e: e.get("jobs", 0)),
            "tasks": tot(lambda e: e.get("tasks", 0)),
            "shuffle_write_mb": tot(lambda e: e.get("shuffle_write_b", 0)) / MB,
            "io_read_mb": tot(lambda e: e["io_read_b"]) / MB,
            "io_write_mb": tot(lambda e: e["io_write_b"]) / MB,
            "max_op_rows": tot(lambda e: e.get("max_op_rows", 0)),
            "first_s": sum(e["latency_s"] for e in warm),
        }

    for m in list(modules) + ["all"]:
        es = [e for e in execs if m == "all" or e["module"] == m]
        warm = [e for e in run["warmup"] if m == "all" or e["module"] == m]
        for k, v in module_totals(es, warm).items():
            out[f"{m}.{k}"] = v

    def tot(key, scale=1.0):
        return sum(e.get(key, 0) for e in execs) / n * scale

    tasks = sum(e.get("tasks", 0) for e in execs)
    med = sum(e.get("stage_median_task_ms", 0) for e in execs)
    op_rows = sum(e.get("max_op_rows", 0) for e in execs)
    cores = run["env"]["cores"]
    all_exec = out["all.execute_s"]
    out.update({
        "all.analyze_s": tot("analysis_ms", 1e-3),
        "all.optimize_s": tot("optimization_ms", 1e-3),
        "all.plan_s": tot("planning_ms", 1e-3),
        "all.stages": tot("stages"),
        "all.empty_task_frac": (sum(e.get("empty_tasks", 0) for e in execs) / tasks
                                if tasks else 0.0),
        "all.task_run_s": tot("task_run_ms", 1e-3),
        "all.task_cpu_s": tot("task_cpu_ns", 1e-9),
        "all.gc_s": tot("gc_ms", 1e-3),
        "all.sched_delay_s": tot("sched_delay_ms", 1e-3),
        "all.core_busy_frac": (tot("task_run_ms", 1e-3) / (all_exec * cores)
                               if all_exec else 0.0),
        "all.task_skew": (sum(e.get("stage_max_task_ms", 0) for e in execs) / med
                          if med else 1.0),
        "all.shuffle_read_mb": tot("shuffle_read_b", 1 / MB),
        "all.spill_mb": tot("spill_b", 1 / MB),
        "all.peak_exec_mem_mb": max([e.get("peak_exec_mem_b", 0) for e in execs]
                                    + [0]) / MB,
        "all.useful_row_frac": (sum(rows.get(e["id"], 0) for e in execs) / op_rows
                                if op_rows else 0.0),
        "all.codegen_compiles": tot("codegen_compiles"),
        "all.files_discovered": tot("files_discovered"),
        "all.file_cache_hits": tot("file_cache_hits"),
        "failed_frac": failed / attempted,
        "setup.session_s": run["setup"]["session_s"],
        "setup.warmup_s": run["setup"]["warmup_s"],
        "setup.suffix_index_s": run["setup"]["suffix_index_s"],
        "peak_rss_mb": run["peak_rss_mb"],
        "trace_overhead_frac": (
            statistics.median(p["wall_s"] for p in traced)
            / statistics.median(p["wall_s"] for p in untraced) - 1.0),
    })
    return out


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def self_times(spans):
    """Self time per span kind in seconds: each span's duration minus the
    union of its children's intervals (children may overlap each other,
    e.g. parallel stages of one job)."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        covered = _union_ms([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                            s["start_ms"], s["end_ms"])
        out[s["kind"]] = out.get(s["kind"], 0.0) + (dur - covered) / 1e3
    return out
