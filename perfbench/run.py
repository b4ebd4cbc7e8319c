"""Closed-loop benchmark of the engine's query keys, one workload per run.

    python3 perfbench/run.py --workload reference_sql --seed 1 \\
        --seconds 8 --trace 0 [--out results.jsonl]

Run from the root of a checkout. One client issues one call at a time
through the engine's public surface, ``engine.registry.all_queries()
[key](spark, data_dir)``, and collects the result to the client. A run:

1. generates the synthetic tables once per checkout (``datagen.py``);
2. sets up ``SETUPS`` times (session start, registry import, a scan of
   the tables the workload reads) and reports the median CPU seconds of
   all but the first, which also launches the JVM, as ``setup_s``;
3. checks every key of the workload against its DuckDB oracle with
   ``tests/oracle_utils.compare`` and keeps a digest of its canonical
   output -- untimed, and it also warms the engine's persisted and
   in-process artifacts;
4. makes one untimed warm-up pass, then timed passes over the workload's
   keys for ``--seconds`` (at least ``MIN_PASSES``), each in an order
   drawn from ``--seed``. A
   timed call is build plus collecting the result to the client
   (``toPandas``); outside the timer, the collected result must have the
   digest its key's checked output had.

Each set-up and call is timed on the wall clock and in CPU seconds of
the whole process tree, less the JIT compiler threads. The end-to-end
metrics are the CPU ones: on a host whose CPUs are shared, wall time
moves with the neighbours' load far more than with the engine (see
README.md).

``--trace 1`` orders untraced and traced passes U,T,T,U,U,T,... and
reports the per-layer metrics of ``tracer.py`` instead of the end-to-end
ones. The last stdout line is the result; the line before it holds run
details.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import importlib.util
import json
import os
import random
import re
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.01
SETUPS = 3
#: timed passes start until ``--seconds`` have gone by, and at least
#: MIN_PASSES run; a traced run needs four for its U,T,T,U order
MIN_PASSES = 3
#: Python nodes in an executed plan: pandas/Arrow UDFs run in workers
PYTHON_NODE = re.compile(r"Python|InPandas")

#: per workload: the tables its keys read (the set-up scans these), and
#: its keys
WORKLOADS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    # small planned relational queries: per-call planning, job launch and
    # driver gaps; no Python worker, stream or persisted artifact
    "reference_sql": (
        ("customer", "documents", "events", "lineitem", "nation", "orders",
         "region", "supplier"),
        ("wiki_rank_reduce", "so_grouped", "tu_grouped_sql",
         "q3_shipping_priority", "q6_forecast_revenue",
         "q13_customer_distribution", "join_q5_local_supplier",
         "join_q18_large_orders"),
    ),
    # LLM-pipeline operators: two multimodal keys whose kernels run in
    # pandas/Arrow Python workers (mapInPandas), a MinHash sketch dedup,
    # reads of warm persisted ANN artifacts, and a streaming dedup ingest
    # whose micro-batches commit state while the key builds (it replays
    # events from a persisted artifact, not from the events table)
    "llm_batch": (
        ("documents", "embeddings"),
        ("dedup_near_minhash", "sim_cosine_topk_ivf", "multimodal_decode",
         "multimodal_audio_features", "text_tfidf_topterms",
         "stream_dedup_watermark"),
    ),
}

#: the sketch keys (MinHash, count-min, ...) hash with the portable md5
#: family, so the oracle rebuilds identical sketches and value-checks them
HASH_MODE = "portable-md5 (SPARK_GRAFT_FAST_HASH=0) in timed and checked calls"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def driver_memory_mib() -> int:
    """A quarter of MemAvailable in whole GiB, clamped to 1-8 GiB: the
    engine's 16g default exceeds the RAM of small hosts. Whole GiB keep
    the heap, and so garbage collection, the same from run to run."""
    with open("/proc/meminfo") as fh:
        fields = dict(line.split(":", 1) for line in fh)
    avail_mib = int(fields["MemAvailable"].split()[0]) // 1024
    return 1024 * max(1, min(8, avail_mib // 4 // 1024))


def prepare_env() -> dict:
    """Environment for the JVM and Python workers, set before launch.
    Spark's scratch space and temp files stay inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem = driver_memory_mib()
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update({
        # Python workers import engine modules by path (pandas UDFs)
        "PYTHONPATH": ":".join(paths),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem}m",
        "SPARK_GRAFT_FAST_HASH": "0",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # UsePerfData off: the JVM would write /tmp/hsperfdata_<user>
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
    })
    return {"cpus": cpus, "driver_memory": f"{mem}m", "hash_mode": HASH_MODE}


def ensure_data() -> str:
    import datagen

    path = os.path.join(WORK, "data", f"sf{SF}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        datagen.write(path, SF)
    return path


def purge_engine() -> None:
    for name in [m for m in sys.modules if m == "engine" or m.startswith("engine.")]:
        del sys.modules[name]


def set_up(data_dir: str, tables):
    """Session start, registry import and a scan of ``tables``, timed.
    The engine is re-imported so every set-up pays its import."""
    purge_engine()
    t0 = time.perf_counter()
    session = importlib.import_module("engine.session")
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    registry = importlib.import_module("engine.registry")
    queries = registry.all_queries()
    t2 = time.perf_counter()
    for table in tables:
        noop(session.load_table(spark, data_dir, table))
    t3 = time.perf_counter()
    times = {"start": t1 - t0, "import": t2 - t1, "scan": t3 - t2}
    return spark, registry, queries, times


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    """The timed materialize: the result, collected to the client."""
    return df.toPandas()


def digest(pdf) -> str:
    """Digest of a collected result in the canonical form the oracle
    comparison uses: columns sorted by name, cells type-tagged, rows
    sorted."""
    from tests.oracle_utils import canon_pdf

    return hashlib.sha256(repr(canon_pdf(pdf)).encode()).hexdigest()


class _Collected:
    """A collected result in the shape ``oracle_utils.compare`` reads,
    so checking does not run the key a second time."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def check_keys(spark, registry, queries, keys, data_dir):
    """Oracle-check every key once; return ``(digests, failures,
    seconds, python_keys)``: the digest of each checked output, the
    reason each failed key failed, the seconds per key, and the keys
    whose executed plan runs Python workers."""
    from tests.conftest import make_duck
    from tests.oracle_utils import compare

    duck = make_duck(data_dir)
    digests, failures, seconds, python_keys = {}, {}, {}, []
    try:
        for key in keys:
            t0 = time.perf_counter()
            try:
                df = queries[key](spark, data_dir)
                pdf = df.toPandas()
                sql = registry.ORACLES[key]
                compare(_Collected(pdf), duck, sql() if callable(sql) else sql,
                        key=key)
                digests[key] = digest(pdf)
                plan = df._jdf.queryExecution().executedPlan().toString()
                if PYTHON_NODE.search(plan):
                    python_keys.append(key)
            except Exception as exc:  # a failed check never aborts the run
                failures[key] = f"{type(exc).__name__}: {exc}"[:300]
                log(f"CHECK_FAIL {key}\n{traceback.format_exc()}")
            spark.catalog.clearCache()
            seconds[key] = time.perf_counter() - t0
    finally:
        duck.close()
    return digests, failures, seconds, python_keys


def jvm_peak_rss_mib(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot. Stolen ticks are time the
    hypervisor gave to other guests; their share of a run's ticks says
    how much a noisy neighbour slowed it."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


CLK_TCK = os.sysconf("SC_CLK_TCK")


#: JIT compiler threads of the JVM, by their (truncated) thread name
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str, first: int, count: int) -> int:
    """Sum of ``count`` fields of a ``/proc`` stat line from field
    ``first`` (0-based, counted after the parenthesised name)."""
    fields = stat.rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[first:first + count])


def cpu_snapshot() -> tuple[int, dict[str, int]]:
    """CPU ticks (user and system) used so far by this process and every
    process under it (the JVM, Python workers), with the children they
    reaped; and the ticks of each live JIT compiler thread among them.
    Time the hypervisor stole is in neither."""
    total, jit = 0, {}
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                total += _ticks(fh.read(), 11, 4)  # utime, stime, cutime, cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
                if stat[stat.index("(") + 1:stat.rindex(")")] in JIT_THREADS:
                    jit[tid] = _ticks(stat, 11, 2)
        except OSError:
            continue  # ended since it was listed
    return total, jit


def engine_cpu_s(before, after) -> tuple[float, float]:
    """CPU seconds between two snapshots: the tree's less the JIT
    compiler threads', and the JIT compiler threads'. Compiling is
    warm-up that keeps shrinking pass by pass well after the first."""
    (t0, j0), (t1, j1) = before, after
    jit = sum(v - j0.get(tid, 0) for tid, v in j1.items())
    return (t1 - t0 - jit) / CLK_TCK, jit / CLK_TCK


def _descendants(pid: int) -> list[int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [pid]
    while frontier:
        children = [p for p, pp in parents.items() if pp in frontier]
        found += children
        frontier = children
    return found


def shut_down(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while (left := _descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args) -> tuple[dict, dict, bool, int, int]:
    """One run; returns ``(info, metrics, correct, attempted, failed)``."""
    import datagen
    from report import geomean, median, percentile
    from tracer import Tracer

    spec = load_spec()
    tables, keys = WORKLOADS[args.workload]
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    info.update(prepare_env())
    data_dir = ensure_data()
    os.environ["SPARK_GRAFT_ORACLE_SF"] = data_dir
    info["data"] = f"synthetic sf{SF}, datagen.py seed {datagen.DATA_SEED}"

    t_start = time.perf_counter()
    spark, setups = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        cpu0 = cpu_snapshot()
        spark, registry, queries, times = set_up(data_dir, tables)
        times["cpu"] = engine_cpu_s(cpu0, cpu_snapshot())[0]
        setups.append(times)
    setup_wall = lambda s: s["start"] + s["import"] + s["scan"]  # noqa: E731
    module = {k: queries[k].__module__.rsplit(".", 1)[-1] for k in keys}

    t_check = time.perf_counter()
    digests, failures, check_key_s, python_keys = check_keys(
        spark, registry, queries, keys, data_dir)
    tracer = Tracer(spark, os.path.join(ROOT, ".scratch")) if args.trace else None

    def one_pass(pass_no: int, traced: bool) -> tuple[float, list]:
        """Call every key once, in an order drawn from the seed; return
        the pass's wall time, its JIT compiler CPU seconds, and ``(key,
        latency, cpu, ok)`` per call, latency and CPU seconds ``None`` if
        the call raised. Each result is checked after its call's clock
        has stopped."""
        order = list(keys)
        random.Random(f"{args.seed}/{pass_no}").shuffle(order)
        calls = []
        harness = jit = 0.0  # harness: seconds spent outside the calls
        p0 = time.perf_counter()
        for key in order:
            build = lambda k=key: queries[k](spark, data_dir)  # noqa: E731
            h0 = time.perf_counter()
            cpu0 = cpu_snapshot()
            harness += time.perf_counter() - h0
            try:
                if traced:
                    pdf, b, m = tracer.call(pass_no, key, module[key], build,
                                            collect)
                else:
                    c0 = time.perf_counter()
                    df = build()
                    c1 = time.perf_counter()
                    pdf = collect(df)
                    b, m = c1 - c0, time.perf_counter() - c1
                c2 = time.perf_counter()
                cpu, call_jit = engine_cpu_s(cpu0, cpu_snapshot())
                jit += call_jit
                ok = digest(pdf) == digests.get(key)
                if not ok:
                    log(f"OUTPUT_MISMATCH {key} in pass {pass_no}")
                calls.append((key, b + m, cpu, ok))
                spark.catalog.clearCache()
                harness += time.perf_counter() - c2
            except Exception:  # a failed call never aborts the run
                calls.append((key, None, None, False))
                log(f"CALL_FAIL {key}\n{traceback.format_exc()}")
                spark.catalog.clearCache()
        return time.perf_counter() - p0 - harness, jit, calls

    walls = {False: [], True: []}  # pass wall times, untraced and traced
    pass_cpus, pass_jits = [], []  # CPU seconds of each untraced pass
    key_latencies = {k: [] for k in keys}  # untraced calls
    key_cpus = {k: [] for k in keys}
    attempted = failed = 0
    one_pass(-1, False)  # warm-up, untimed: first plans and JIT
    min_passes = 4 if tracer else MIN_PASSES
    t_timed, ticks0 = time.perf_counter(), host_ticks()
    pass_no = 0
    while pass_no < min_passes or time.perf_counter() - t_timed < args.seconds:
        traced = bool(tracer) and pass_no % 4 in (1, 2)  # U,T,T,U,...
        wall, jit, calls = one_pass(pass_no, traced)
        walls[traced].append(wall)
        attempted += len(calls)
        failed += sum(not ok for *_, ok in calls)
        if not traced:
            pass_cpus.append(sum(cpu for _, _, cpu, _ in calls if cpu is not None))
            pass_jits.append(jit)
            for key, latency, cpu, _ in calls:
                if latency is not None:
                    key_latencies[key].append(latency)
                    key_cpus[key].append(cpu)
        pass_no += 1
    t_end, ticks1 = time.perf_counter(), host_ticks()
    latencies = [x for v in key_latencies.values() for x in v]

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if tracer:
        modules = [n[len("build."):-2] for n in units
                   if n.startswith("build.") and n.endswith("_s") and n != "build.s"]
        values = tracer.metrics(modules)
        values.update({
            "jvm.peak_rss_mib": jvm_peak_rss_mib(spark),
            "jvm.jit_cpu_s": median(pass_jits),
            "wall.pass_s": median(walls[False]),
            "latency.geomean_s": geomean(
                median(v) for v in key_latencies.values() if v),
            "latency.p50_s": percentile(latencies, 50),
            "latency.p90_s": percentile(latencies, 90),
            "session.jvm_launch_s": setups[0]["start"],
            "session.start_s": median(s["start"] for s in setups[1:]),
            "registry.import_s": median(s["import"] for s in setups[1:]),
            "setup.table_scan_s": median(s["scan"] for s in setups[1:]),
            "setup.wall_s": median(setup_wall(s) for s in setups[1:]),
            "check.s": sum(check_key_s.values()),
            "trace.pass_s": median(walls[True]),
            "trace.overhead_s": median(walls[True]) - median(walls[False]),
        })
        names = [m["name"] for m in spec["per_layer"]]
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write_spans(path)
        tracer.close()
        info["spans"] = os.path.relpath(path, ROOT)
        # what the workload's time goes to, as shares of a traced pass
        info["profile"] = {
            "build_share": values["build.s"] / values["trace.pass_s"],
            "job_busy_share": values["exec.job_busy_s"] / values["trace.pass_s"],
            "run_minus_cpu_share_of_run": values["exec.run_minus_cpu_s"] / max(
                1e-9, values["exec.run_minus_cpu_s"] + values["exec.executor_cpu_s"]),
        }
    else:
        values = {
            "pass_cpu_s": median(pass_cpus),
            "query_cpu_geomean_s": geomean(
                median(v) for v in key_cpus.values() if v),
            "setup_s": median(s["cpu"] for s in setups[1:]),
        }
        names = [m["name"] for m in spec["end_to_end"]]
    shut_down(spark)

    info.update({
        "check_failures": failures,
        "python_worker_keys": python_keys,
        "setups_s": setups,
        "check_s": check_key_s,
        "passes": len(walls[False]) + len(walls[True]),
        "pass_walls_s": walls[False] + walls[True],
        "pass_cpu_s": pass_cpus,
        "pass_jit_cpu_s": pass_jits,
        "key_median_s": {k: median(v) for k, v in key_latencies.items() if v},
        "key_median_cpu_s": {k: median(v) for k, v in key_cpus.items() if v},
        "stolen_cpu_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "phase_s": {"setups": t_check - t_start, "check": sum(check_key_s.values()),
                    "timed": t_end - t_timed,
                    "shutdown": time.perf_counter() - t_end},
    })
    metrics = {n: (values.get(n), units[n]) for n in names}
    correct = not failures and failed == 0
    return info, metrics, correct, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the run's record to this JSON-lines file")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    missing = [m for m in ("engine.registry", "tests.oracle_utils")
               if importlib.util.find_spec(m.split(".")[0]) is None
               or importlib.util.find_spec(m) is None]
    if missing or not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        log(f"perfbench: run from a checkout of the engine; missing {missing}")
        return 2

    from report import result_line

    info, metrics, correct, attempted, failed = run(args)
    line, bad = result_line(correct, attempted, failed, metrics)
    info["bad_values"] = bad
    print(json.dumps({"info": info}, default=str))
    print(line, flush=True)
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps({**info, "result": json.loads(line)}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
