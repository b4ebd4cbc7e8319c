"""Self-test of the benchmark's own machinery.

    python3 perfbench/selftest.py [KEY ...]

1. The result line stays one parseable JSON object when metric values
   are NaN, infinite or missing; each bad value becomes ``null`` and is
   counted.
2. Traced counts are exact: after one warm-up call, each KEY (default:
   one key per workload) is traced twice, and its job, stage and task
   counts must be identical across the two calls.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import math
import os
import sys

import run
from report import result_line

DEFAULT_KEYS = ("q3_shipping_priority", "stream_dedup_watermark")
COUNTS = ("build.jobs", "exec.jobs", "exec.stages", "exec.tasks")


def check_result_line() -> None:
    metrics = {"a": (1.5, "s"), "b": (math.nan, "s"), "c": (math.inf, "s"),
               "d": (None, "ms"), "e": ("1", "count")}
    line, bad = result_line(True, 3, 0, metrics)
    parsed = json.loads(line)
    if bad != 4 or "\n" in line:
        raise SystemExit(f"result line: expected 4 bad values, got {bad}")
    if [parsed["metrics"][k]["value"] for k in "abcde"] != [1.5] + [None] * 4:
        raise SystemExit(f"result line: bad values not nulled: {line}")
    print("result line: ok")


def check_counts(keys) -> None:
    from tracer import Tracer

    run.prepare_env()
    data_dir = run.ensure_data()
    os.environ["SPARK_GRAFT_ORACLE_SF"] = data_dir
    spark, _registry, queries, _times = run.set_up(data_dir, ())
    tracer = Tracer(spark, os.path.join(run.ROOT, ".scratch"))
    try:
        for key in keys:
            build = lambda k=key: queries[k](spark, data_dir)  # noqa: E731
            run.collect(build())  # warm: persisted artifacts, first-plan work
            spark.catalog.clearCache()
            for i in range(2):
                tracer.call(i, key, "selftest", build, run.collect)
                spark.catalog.clearCache()
            first, second = tracer.calls[-2], tracer.calls[-1]
            counts = [{c: rec[c] for c in COUNTS} for rec in (first, second)]
            if counts[0] != counts[1] or counts[0]["exec.jobs"] < 1:
                raise SystemExit(f"{key}: counts differ between calls: {counts}")
            print(f"{key}: identical counts {counts[0]}")
    finally:
        tracer.close()
        run.shut_down(spark)


def main(argv=None) -> int:
    keys = (argv if argv is not None else sys.argv[1:]) or DEFAULT_KEYS
    sys.path.insert(0, run.ROOT)
    check_result_line()
    check_counts(keys)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
