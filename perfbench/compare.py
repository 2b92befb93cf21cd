#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each side is a directory of run records written by perfbench/run.py
(searched recursively; untraced records only). For every workload and
end-to-end metric it prints each side's median and quartiles and a
verdict, using the bounds in BENCHMARK.json:

  unresolved  either side's spread (IQR / median) exceeds the bound, so a
              change of that size could not be seen;
  regressed   the new median is worse than the base median by more than
              the bound;
  improved    the new median is better by more than the bound;
  same        otherwise.

Exits 1 if any metric is regressed or unresolved, else 0.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import quartiles  # noqa: E402


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else (0.0 if q3 == q1 else float("inf"))


def verdict(base, new, bound, better):
    """Verdict for two samples of one metric; see the module docstring."""
    if max(spread(base), spread(new)) > bound:
        return "unresolved"
    mb, mn = quartiles(base)[1], quartiles(new)[1]
    change = (mn - mb) / abs(mb) if mb else (0.0 if mn == mb else float("inf"))
    worse = change if better == "lower" else -change
    if worse > bound:
        return "regressed"
    if worse < -bound:
        return "improved"
    return "same"


def load(side):
    """{workload: {metric: [values]}} from the untraced records under side."""
    out = {}
    for p in sorted(Path(side).rglob("*.json")):
        try:
            r = json.loads(p.read_text())
        except ValueError:
            continue
        if not isinstance(r, dict) or r.get("trace") != 0 or "result" not in r:
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    base, new = load(argv[0]), load(argv[1])
    bad = 0
    print(f"{'workload':<11} {'metric':<14} {'bound':>5}  "
          f"{'base q1 / median / q3':>30} {'n':>3}  "
          f"{'new q1 / median / q3':>30} {'n':>3}  verdict")
    for w in sorted(set(base) | set(new)):
        for m in spec["end_to_end"]:
            a, b = base.get(w, {}).get(m["name"]), new.get(w, {}).get(m["name"])
            if not a or not b:
                print(f"{w:<11} {m['name']:<14} missing on one side")
                bad += 1
                continue
            v = verdict(a, b, m["bound"], m["better"])
            bad += v in ("regressed", "unresolved")

            def fmt(xs):
                q1, med, q3 = quartiles(xs)
                return f"{q1:9.4g} / {med:9.4g} / {q3:9.4g} {len(xs):>3}"
            print(f"{w:<11} {m['name']:<14} {m['bound']:>5}  {fmt(a):>34}  "
                  f"{fmt(b):>34}  {v}  (spread {spread(a):.3f} / {spread(b):.3f})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
