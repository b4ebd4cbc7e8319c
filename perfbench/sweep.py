"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --out results.jsonl \\
        [--workloads reference_sql,llm_batch] [--seeds 1-10] [--trace 0]

Each run is ``run.py`` in its own process, one after another, with the
``run_seconds`` of ``BENCHMARK.json``; records are appended to ``--out``
for ``compare.py``. For untraced runs the summary prints, per workload
and end-to-end metric, the median, the quartile spread as a share of the
median, and whether that spread is within a third of the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from compare import load
from report import median, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    workloads = args.workloads.split(",")
    for w in workloads:
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace), "--out", args.out],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True,
            )
            last = proc.stdout.strip().splitlines()[-1:] or [""]
            print(f"{w} seed {seed}: exit {proc.returncode}, "
                  f"{time.perf_counter() - t0:.1f} s: {last[0][:160]}", flush=True)

    if args.trace:
        return 0
    runs, calls = load(args.out)
    for w in workloads:
        attempted, failed, incorrect = calls.get(w, [0, 0, 0])
        print(f"== {w}: failed calls {failed}/{attempted}, incorrect runs {incorrect}")
        for m in spec["end_to_end"]:
            values = list(runs.get((w, 0), {}).get(m["name"], {}).values())
            s = spread(values)
            ok = "steady" if s <= m["bound"] / 3 else "NOT steady"
            print(f"  {m['name']:<18} n={len(values):<3} median {median(values):.4g} "
                  f"spread {s:.3f} bound {m['bound']} {ok}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
