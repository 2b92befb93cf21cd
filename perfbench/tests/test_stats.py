"""Tests for the benchmark's metric code. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import stats  # noqa: E402
from oracle import check_outputs  # noqa: E402


def execution(qid, module="rel", latency=0.1, error=None, **extra):
    return dict({"id": qid, "module": module, "latency_s": latency,
                 "construct_s": latency / 2, "action_s": latency / 2,
                 "error": error, "io_read_b": 0, "io_write_b": 0}, **extra)


def synthetic_run(ids, passes=3, traced=(), fail=()):
    """A run record as the JVM driver writes it: ids in `fail` throw."""
    def execs(p):
        return [execution(i, latency=0.1 * (k + 1) + 0.01 * p,
                          error="boom" if i in fail else None, traced=p in traced)
                for k, i in enumerate(ids)]
    return {
        "warmup": execs(-1),
        "passes": [{"pass": p, "traced": p in traced, "wall_s": 1.0 + 0.1 * p,
                    "cpu_s": 2.0 + 0.1 * p, "execs": execs(p)}
                   for p in range(passes)],
        "setup": {"setup_s": 12.5, "session_s": 5.0, "warmup_s": 7.0,
                  "suffix_index_s": 0.0},
        "peak_rss_mb": 1500.0,
        "peak_live_heap_mb": 400.0,
        "env": {"cores": 4},
    }


class TailTest(unittest.TestCase):
    def test_sample_count_rule(self):
        self.assertEqual(stats.tail_count(40, 0.1), 4)
        self.assertEqual(stats.tail_count(52, 0.1), 6)    # rounded up
        self.assertEqual(stats.tail_count(100, 0.1), 10)
        self.assertEqual(stats.tail_count(3, 0.1), 1)     # at least one
        self.assertEqual(stats.tail_count(0, 0.1), 1)

    def test_tail_mean_averages_the_slowest_tenth(self):
        xs = list(range(1, 41))                     # 40 samples: the top 4
        self.assertEqual(stats.tail_mean(xs, 0.1), statistics.mean([37, 38, 39, 40]))
        self.assertEqual(stats.tail_mean(list(range(1, 53)), 0.1),
                         statistics.mean(range(47, 53)))  # 52 samples: top 6
        self.assertEqual(stats.tail_mean([3.0, 1.0], 0.1), 3.0)

    def test_tail_ids_name_the_slowest_executions(self):
        ids = [f"q_{k}" for k in range(10)]
        run = synthetic_run(ids, passes=4)           # 40 samples: the top 4
        self.assertEqual(stats.tail_ids(run), {"q_9": 4})

    def test_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counts_once(self):
        def span(i, parent, kind, a, b):
            return {"id": i, "parent": parent, "kind": kind, "name": kind,
                    "qid": 0, "start_ms": a, "end_ms": b}
        spans = [
            span(0, None, "query", 0, 100),
            span(1, 0, "construct", 0, 30),
            span(2, 0, "execute", 40, 100),
            span(3, 2, "job", 50, 90),
            span(4, 3, "stage", 50, 80),
            span(5, 3, "stage", 60, 90),   # runs in parallel with stage 4
            span(6, 1, "job", 20, 45),     # sticks out of its parent
        ]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["query"], 0.010)      # 100 - 30 - 60
        self.assertAlmostEqual(s["construct"], 0.020)  # 30 - (20..30)
        self.assertAlmostEqual(s["execute"], 0.020)    # 60 - 40
        self.assertAlmostEqual(s["job"], 0.025)        # 0 + 25
        self.assertAlmostEqual(s["stage"], 0.060)

    def test_self_times_sum_to_root_duration(self):
        spans = [{"id": 0, "parent": None, "kind": "query", "start_ms": 0, "end_ms": 50},
                 {"id": 1, "parent": 0, "kind": "execute", "start_ms": 10, "end_ms": 50},
                 {"id": 2, "parent": 1, "kind": "job", "start_ms": 15, "end_ms": 45}]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 0.050)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_fixture(d, outputs):
    """A data directory of tiny tables, as tools/check.py expects, and a
    check directory holding `outputs` ({id: DataFrame})."""
    data, check = Path(d, "data"), Path(d, "check")
    data.mkdir()
    for t in TABLES:
        pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}).to_parquet(data / f"{t}.parquet")
    for qid, df in outputs.items():
        Path(check, qid).mkdir(parents=True)
        df.to_parquet(Path(check, qid, "part-0.parquet"))
    return data, check


class FailedFracTest(unittest.TestCase):
    """One id throws, one returns a wrong answer: both must be counted.
    The answers are checked by tools/check.py against DuckDB."""

    def test_thrown_and_wrong_answers_both_count(self):
        ids = ["q_good", "q_throws", "q_wrong"]
        run = synthetic_run(ids, passes=3, fail={"q_throws"})
        with tempfile.TemporaryDirectory() as d:
            data, check = check_fixture(d, {
                "q_good": pd.DataFrame({"v": ["b", "a"], "k": [2, 1]}),
                "q_wrong": pd.DataFrame({"k": [1, 2], "v": ["a", "X"]})})
            errors = {e["id"]: e["error"] for e in run["warmup"] if e["error"]}
            problems, rows = check_outputs(
                ids, {i: "SELECT k, v FROM region" for i in ids}, check, errors,
                data, threads=1)
        self.assertEqual(set(problems), {"q_throws", "q_wrong"})
        self.assertIn("threw", problems["q_throws"])
        self.assertIn("wrong answer", problems["q_wrong"])
        self.assertEqual(rows, {"q_good": 2, "q_wrong": 2})

        attempted, failed, reasons = stats.failures(run, problems)
        self.assertEqual(attempted, 12)       # 3 ids x (check pass + 3 passes)
        self.assertEqual(failed, 8)           # every execution of both ids
        self.assertEqual(set(reasons), {"q_throws", "q_wrong"})
        e2e = stats.end_to_end(run, attempted, failed)
        self.assertAlmostEqual(e2e["ok_frac"], 1 - 8 / 12)

    def test_unchecked_outputs_fail(self):
        ids = ["q_no_sql", "q_nested", "q_no_output"]
        run = synthetic_run(ids)
        with tempfile.TemporaryDirectory() as d:
            data, check = check_fixture(d, {
                "q_no_sql": pd.DataFrame({"x": [1]}),
                "q_nested": pd.DataFrame({"k": [[1, 2]]})})
            problems, _ = check_outputs(
                ids, {"q_no_sql": None, "q_nested": "SELECT [1, 2] AS k",
                      "q_no_output": "SELECT 1 AS k"}, check, {}, data, threads=1)
        self.assertEqual(problems["q_no_sql"], "no oracle SQL declared")
        self.assertIn("array/struct", problems["q_nested"])
        self.assertIn("no output", problems["q_no_output"])
        self.assertEqual(stats.failures(run, problems)[1], 12)

    def test_clean_run_has_no_failures(self):
        run = synthetic_run(["q_a", "q_b"])
        self.assertEqual(stats.failures(run, {}), (8, 0, {}))


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_passes(self):
        run = synthetic_run(["q_a", "q_b"], passes=4, traced={1, 3})
        m = stats.end_to_end(run, 10, 0)
        self.assertAlmostEqual(m["pass_s"], statistics.median([1.0, 1.2]))
        self.assertAlmostEqual(m["query_p50_s"], statistics.median([0.1, 0.2, 0.12, 0.22]))
        self.assertEqual(m["setup_s"], 12.5)
        self.assertEqual(m["peak_heap_mb"], 400.0)
        self.assertEqual(m["ok_frac"], 1.0)

    def test_per_layer_module_split_and_overhead(self):
        run = synthetic_run(["q_a", "q_b"], passes=4, traced={1, 3})
        for p in run["passes"]:
            for e in p["execs"]:
                e.update(module="sc" if e["id"] == "q_a" else "rel",
                         jobs=2, tasks=8, empty_tasks=2, max_op_rows=100,
                         analysis_ms=10, optimization_ms=20, planning_ms=30,
                         task_run_ms=400, stage_max_task_ms=90,
                         stage_median_task_ms=30, gc_ms=5)
        m = stats.per_layer(run, ["sc", "rel", "llm"], {"q_a": 10, "q_b": 40}, 16, 0)
        self.assertEqual(m["sc.jobs"], 2)
        self.assertEqual(m["all.jobs"], 4)
        self.assertEqual(m["llm.jobs"], 0)
        self.assertAlmostEqual(m["all.catalyst_s"], 0.12)
        self.assertAlmostEqual(m["all.empty_task_frac"], 0.25)
        self.assertAlmostEqual(m["all.task_skew"], 3.0)
        self.assertAlmostEqual(m["all.useful_row_frac"], 50 / 200)
        self.assertAlmostEqual(m["trace_overhead_frac"], 1.2 / 1.1 - 1)
        self.assertEqual(m["failed_frac"], 0.0)
        self.assertEqual(m["peak_rss_mb"], 1500.0)

    def test_per_id_rows(self):
        run = synthetic_run(["q_a", "q_b"], passes=4, traced={1, 3}, fail={"q_b"})
        for p in run["passes"]:
            for e in p["execs"]:
                e["jobs"] = 3 if p["traced"] else 99
        rows = stats.per_id(run, {"q_a": 7})
        self.assertAlmostEqual(rows["q_a"]["first_s"], 0.09)
        self.assertAlmostEqual(rows["q_a"]["median_s"], 0.11)  # untraced passes 0, 2
        self.assertEqual(rows["q_a"]["jobs"], 3)                  # traced passes only
        self.assertEqual(rows["q_a"]["rows"], 7)
        self.assertAlmostEqual(rows["q_a"]["construct_s"], 0.06)  # passes 1, 3
        self.assertAlmostEqual(rows["q_a"]["execute_s"], 0.06)
        self.assertEqual(rows["q_a"]["catalyst_s"], 0)
        self.assertIsNone(rows["q_b"]["median_s"])               # every run threw


if __name__ == "__main__":
    unittest.main()
