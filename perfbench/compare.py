"""Compare two benchmark result files workload by workload.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

A result file holds one JSON record per run, as ``run.py --out`` or
``sweep.py`` append them. End-to-end metrics come from untraced runs and
are judged against the bounds in ``BENCHMARK.json``:

- regressed: NEW's median is worse than BASE's by more than the bound;
- improved: NEW beats BASE in at least 9 of 10 pairs (runs paired by
  seed, else every pair) and the medians differ by more than BASE's
  quartile distance;
- unresolved: BASE's own quartile spread is wider than the bound, and
  neither every NEW run beats nor every one trails every BASE run;
- unchanged: otherwise.

A workload whose NEW runs fail a larger share of calls than BASE's, or
report ``correct: false``, is a regression, and none of its metrics can
read improved: a faster run that skips or breaks work is not a gain.

Per-layer metrics come from traced runs; the ones whose median moved by
more than BASE's spread (and at least 5%) are named.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

from report import median, spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> tuple[dict, dict]:
    """From a result file: ``{(workload, trace): {metric: {seed:
    value}}}`` and ``{workload: [attempted, failed, incorrect runs]}``."""
    runs: dict = defaultdict(lambda: defaultdict(dict))
    calls: dict = defaultdict(lambda: [0, 0, 0])
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            result = rec["result"]
            tally = calls[rec["workload"]]
            tally[0] += result["attempted"]
            tally[1] += result["failed"]
            tally[2] += not result["correct"]
            for name, m in result["metrics"].items():
                if m["value"] is not None:
                    runs[(rec["workload"], rec["trace"])][name][rec["seed"]] = m["value"]
    return runs, calls


def error_rate(tally) -> float:
    attempted, failed, _ = tally
    return failed / attempted if attempted else float("nan")


def verdict(base: dict, new: dict, bound: float, lower_better: bool) -> tuple[str, float]:
    """``(verdict, change)``; ``change`` is NEW's median relative to
    BASE's, positive when worse."""
    a, b = list(base.values()), list(new.values())
    if not a or not b:
        return "missing", float("nan")
    sign = 1.0 if lower_better else -1.0
    med_a, med_b = median(a), median(b)
    worse = sign * (med_b - med_a) / med_a if med_a else float("inf")
    seeds = base.keys() & new.keys()
    pairs = ([(base[s], new[s]) for s in seeds] if seeds
             else [(x, y) for x in a for y in b])
    wins = sum(sign * (y - x) < 0 for x, y in pairs) / len(pairs)
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    all_worse = all(sign * (y - x) > 0 for x in a for y in b)
    if len(a) >= 2:
        q1, _, q3 = statistics.quantiles(a, n=4)
        iqr, base_spread = q3 - q1, spread(a)
    else:
        iqr, base_spread = 0.0, float("inf")
    if not base_spread <= bound:
        if all_better:
            return "improved", worse
        return ("regressed" if all_worse and worse > bound else "unresolved"), worse
    if worse > bound:
        return "regressed", worse
    if wins >= 0.9 and sign * (med_a - med_b) > iqr:
        return "improved", worse
    return "unchanged", worse


def moved_layers(base: dict, new: dict) -> list[str]:
    out = []
    for name in sorted(base.keys() & new.keys()):
        a, b = list(base[name].values()), list(new[name].values())
        med_a, med_b = median(a), median(b)
        if med_a == med_b:
            continue
        rel = abs(med_b - med_a) / abs(med_a) if med_a else float("inf")
        s = spread(a) if len(a) >= 2 else 0.0
        if rel > max(0.05, s if s == s else 0.0):
            out.append(f"{name}: {med_a:.6g} -> {med_b:.6g}"
                       + (f" ({rel:+.0%})" if med_a else ""))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    (base, calls_a), (new, calls_b) = load(args.base), load(args.new)
    regressed = False
    for w in [w["name"] for w in spec["workloads"]]:
        print(f"== {w}")
        tally_a, tally_b = calls_a.get(w, [0, 0, 0]), calls_b.get(w, [0, 0, 0])
        broken = tally_b[2] > 0 or error_rate(tally_b) > error_rate(tally_a)
        regressed |= broken
        print(f"  {'calls':<20} {'regressed' if broken else 'ok':<10} "
              f"failed {tally_a[1]}/{tally_a[0]} -> {tally_b[1]}/{tally_b[0]}, "
              f"incorrect runs {tally_a[2]} -> {tally_b[2]}")
        e2e_a, e2e_b = base.get((w, 0), {}), new.get((w, 0), {})
        for m in spec["end_to_end"]:
            name = m["name"]
            v, change = verdict(e2e_a.get(name, {}), e2e_b.get(name, {}),
                                m["bound"], m["better"] == "lower")
            if broken and v == "improved":
                v = "unresolved"  # a gain does not count while calls fail
            regressed |= v == "regressed"
            print(f"  {name:<20} {v:<10} {change:+8.1%} worse "
                  f"(bound {m['bound']:.0%}; n={len(e2e_a.get(name, {}))}"
                  f"/{len(e2e_b.get(name, {}))})")
        moved = moved_layers(base.get((w, 1), {}), new.get((w, 1), {}))
        print("  per-layer moved: " + ("none" if not moved else ""))
        for line in moved:
            print(f"    {line}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
