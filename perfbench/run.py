#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload llm_sql --seed 1 --seconds 16 --trace 0

One run is one JVM with one session and one closed-loop client (see
perfbench/README.md). The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A readable summary, the
oracle check result and any failing ids go to stderr. The full record of
the run is kept under .bench_build/perfbench/results/ (or --results) for
perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import stats  # noqa: E402
from oracle import OracleError, check_outputs  # noqa: E402

# Only a ceiling: the heap starts at the JVM's default size and grows as
# far as the queries need (see `peak_heap_mb` in perfbench/README.md).
HEAP = "3g"
HEAP_FLAGS = [f"-Xmx{HEAP}"]
# The JVM's time limit grows with the timed passes. It is several times a
# healthy run (about 30 s of set-up and 4-6 s per pass), so that a much
# slower commit is still measured, and reported as a regression.
JVM_SETUP_ALLOWANCE_S = 150
JVM_PASS_ALLOWANCE_S = 30
# Untimed noop passes after the check pass. The JIT keeps compiling for
# a minute: after one warm pass the first timed pass still runs 5-30%
# slower than the last. A second warm pass costs about 5 s a run, which
# the benchmark's budget (48 runs in under an hour on 4 vCPUs) cannot
# spare; the median over the timed passes absorbs most of the slope.
WARM_PASSES = 1
# --seconds buys one timed pass per PASS_BUDGET_S. The count is fixed by
# --seconds alone, not by when time runs out, so both sides of a
# comparison sample the JIT warm-up curve at the same passes.
PASS_BUDGET_S = 4.0


def bench_spec():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return spec, units


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=None,
                    help="directory for the run record (default "
                         ".bench_build/perfbench/results)")
    a = ap.parse_args(argv)

    try:
        build.require_checkout()
        spec, units = bench_spec()
        wl = json.loads((build.BENCH / "workloads.json").read_text())
        if a.workload not in wl["workloads"]:
            raise build.BuildError(f"unknown workload {a.workload!r}; "
                                   f"known: {sorted(wl['workloads'])}")
        ids = wl["workloads"][a.workload]["ids"]
        cores = len(os.sched_getaffinity(0))
        classpath = build.build_classes()
        data = build.build_data(classpath, wl["scale"], cores)
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit(f"perfbench: {e}")

    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = build.OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    try:
        passes = max(4 if a.trace else 3, round(a.seconds / PASS_BUDGET_S))
        build.read_jars()
        cmd = build.java_cmd(classpath, HEAP_FLAGS, tmp, "perfbench.Driver", [
            "--data", data, "--out", run_dir, "--ids", ",".join(ids),
            "--warm", WARM_PASSES, "--passes", passes, "--seed", a.seed, "--trace", a.trace,
            "--cores", cores])
        log = run_dir / "jvm.log"
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                    cwd=build.ROOT, env=build.child_env(cores))
            try:
                code = proc.wait(timeout=JVM_SETUP_ALLOWANCE_S
                                 + passes * JVM_PASS_ALLOWANCE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not (run_dir / "run.json").exists():
            tail = log.read_text(errors="replace")[-3000:]
            sys.exit(f"perfbench: JVM driver failed ({code}):\n{tail}")
        run = json.loads((run_dir / "run.json").read_text())

        errors = {e["id"]: e["error"] for e in run["warmup"] if e["error"]}
        try:
            problems, rows = check_outputs(ids, run["oracle_sql"], run_dir / "check",
                                           errors, data, threads=min(4, cores))
        except OracleError as e:
            sys.exit(f"perfbench: oracle check failed: {e}")
        attempted, failed, reasons = stats.failures(run, problems)

        if a.trace:
            metrics = stats.per_layer(run, wl["modules"], rows, attempted, failed)
            spans = json.loads((run_dir / "spans.json").read_text())
            self_s = stats.self_times(spans)
        else:
            metrics = stats.end_to_end(run, attempted, failed)
        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        missing = [n for n in names if n not in metrics]
        if missing:
            sys.exit(f"perfbench: metrics not computed: {missing}")

        latencies = stats.untraced_latencies(run)
        samples = len(latencies)
        env = dict(run["env"], heap=HEAP, commit=git_commit(),
                   source_hash=Path(classpath.split(":")[0]).parent.name)
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "stamp": stamp, "env": env,
            "passes": [{k: p[k] for k in ("traced", "wall_s", "cpu_s")}
                       for p in run["passes"]],
            "samples": samples,
            "latencies_s": latencies,
            "tail10_samples": stats.tail_count(samples, stats.TAIL),
            "tail10_ids": stats.tail_ids(run),
            "failing_ids": reasons,
            "setup": run["setup"],
            "per_id": stats.per_id(run, rows),
            "result": {
                "correct": not reasons, "attempted": attempted, "failed": failed,
                "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
            },
        }
        out_dir = Path(a.results) if a.results else build.OUT / "results"
        out_dir = out_dir / a.workload
        out_dir.mkdir(parents=True, exist_ok=True)
        base = f"{stamp}-s{a.seed}-t{a.trace}-{os.getpid()}"
        if a.trace:
            record["span_self_s"] = self_s
            shutil.copy(run_dir / "spans.json", out_dir / f"{base}-spans.json")
            record["spans_file"] = str(out_dir / f"{base}-spans.json")
        (out_dir / f"{base}.json").write_text(json.dumps(record, indent=1))

        err = sys.stderr
        print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} "
              f"passes={len(run['passes'])} samples={samples} "
              f"(tail10 = mean of the slowest {record['tail10_samples']}: "
              f"{json.dumps(record['tail10_ids'], sort_keys=True)})",
              file=err)
        for n in names:
            print(f"[perfbench]   {n} = {metrics[n]:.6g} {units[n]}", file=err)
        if a.trace:
            print("[perfbench]   span self time: " + ", ".join(
                f"{k} {v:.3f} s" for k, v in sorted(self_s.items())), file=err)
        print(f"[perfbench] oracle check: {len(ids) - len(reasons)}/{len(ids)} ids "
              f"ok; {failed}/{attempted} executions failed", file=err)
        for qid, why in reasons.items():
            print(f"[perfbench]   FAILED {qid}: {why}", file=err)
        print(f"[perfbench] env: {json.dumps(env, sort_keys=True)}", file=err)
        print(json.dumps(record["result"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
