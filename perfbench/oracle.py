"""Oracle check: each query's output against its `SparkEntry.oracleSql` run
in DuckDB over the same parquet tables.

The check is the repository's own correctness gate, `tools/check.py`, run
as it stands on the check pass's output directory. Its per-id JSON report
(`CHECK_JSON`) is folded into one problem line per failing id.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

CHECK_PY = Path(__file__).resolve().parents[1] / "tools" / "check.py"
CHECK_TIMEOUT_S = 120


class OracleError(Exception):
    pass


def run_check(data_dir, check_dir, ids, oracle_sql, threads):
    """Runs tools/check.py over `check_dir`, which holds one parquet
    directory per id that produced output. Returns (report, stdout)."""
    check_dir = Path(check_dir)
    check_dir.mkdir(parents=True, exist_ok=True)
    (check_dir / "oracle_sql.json").write_text(json.dumps(
        {i: oracle_sql[i] for i in ids if oracle_sql.get(i)}))
    report_path = check_dir.parent / "check.json"
    env = dict(os.environ, CHECK_THREADS=str(threads), CHECK_JSON=str(report_path))
    try:
        r = subprocess.run([sys.executable, str(CHECK_PY), str(data_dir),
                            str(check_dir), ",".join(ids)],
                           capture_output=True, text=True, env=env,
                           timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        raise OracleError(f"{CHECK_PY.name} timed out after {e.timeout} s") from e
    # exit 1 means some id failed; anything else, or no report, is a crash
    if r.returncode not in (0, 1) or not report_path.exists():
        raise OracleError(f"{CHECK_PY.name} exited {r.returncode}:\n"
                          f"{(r.stdout + r.stderr)[-3000:]}")
    return json.loads(report_path.read_text()), r.stdout


def check_outputs(ids, oracle_sql, check_dir, errors, data_dir, threads):
    """Checks each id's check-pass output. `errors` maps ids whose check
    execution threw to the message. Returns ({id: problem}, {id: rows})."""
    problems = {qid: f"threw: {errors[qid]}" for qid in ids if qid in errors}
    checked = [qid for qid in ids if qid not in errors]
    if not checked:
        return problems, {}
    report, stdout = run_check(data_dir, check_dir, checked, oracle_sql, threads)
    rows = {}
    for qid in checked:
        r = report.get(qid)
        if r is None:
            # check.py prints a [FAIL] line and writes no report entry for
            # outputs it cannot compare (nested columns)
            line = next((ln for ln in stdout.splitlines() if f" {qid}:" in ln),
                        "no output to check")
            problems[qid] = f"not checked: {line}"[:300]
            continue
        rows[qid] = r["spark_rows"]
        if r["err"] == "no_oracle":
            problems[qid] = "no oracle SQL declared"
        elif r["hash_match"] is False:
            problems[qid] = f"wrong answer: {r['err']}"[:300]
        elif r["hash_match"] is not True:
            problems[qid] = f"not compared: {r['err']}"[:300]
    return problems, rows
