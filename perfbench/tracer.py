"""Per-layer tracing for the benchmark, recorded from outside the engine.

One :class:`Tracer` wraps each traced call. It reads

- Spark's job and stage counters from the status store, by the range of
  job and stage ids the call allocated (``DAGScheduler`` hands them out
  sequentially). Counting by id range is exact however many jobs a call
  runs; the size of ``statusStore().jobsList()`` is not, because that
  list is capped at ``spark.ui.retainedJobs``.
- micro-batch progress from a Python ``StreamingQueryListener``;
- the files the call wrote under the engine's ``.scratch`` tree.

Every read happens after the listener bus has drained and outside the
call's own timer. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from report import median, percentile

#: counters summed over the calls of a pass
PASS_SUMS = (
    "build.s", "build.jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.driver_gap_s", "exec.job_busy_s", "exec.executor_cpu_s",
    "exec.run_minus_cpu_s", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.gc_s", "exec.failed_tasks", "stream.batches",
    "stream.input_rows", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.wal_commit_ms", "stream.state_commit_ms",
    "stream.state_rows_total", "scratch.bytes_written",
    "scratch.files_written", "trace.self_s",
)


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event the session posts."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            "state_rows_total": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self.lock:
            self.events.append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self.lock:
            events, self.events = self.events, []
        return events


def _scratch_state(root: str) -> dict[str, tuple[int, int]]:
    state = {}
    for base, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(base, name)
            try:
                st = os.stat(path)
            except OSError:
                continue  # removed while walking
            state[path] = (st.st_mtime_ns, st.st_size)
    return state


class Tracer:
    def __init__(self, spark, scratch_root: str) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._scratch_root = scratch_root
        self._listener = _ProgressListener()
        self._spark = spark
        spark.streams.addListener(self._listener)
        self.spans: list[dict] = []
        self.calls: list[dict] = []

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def drain(self) -> None:
        """Wait until every event posted so far reached the status
        store and the stream listener."""
        self._bus.waitUntilEmpty()

    def ids(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def call(self, pass_no: int, key: str, module: str, build, materialize):
        """Run one traced call; return ``(materialized, build_s,
        materialize_s)``.
        Whatever the call raises propagates after its record is kept."""
        pre = time.perf_counter()
        before = _scratch_state(self._scratch_root)
        self.drain()
        self._listener.take()
        j0, s0 = self.ids()
        wall0, t0 = time.time(), time.perf_counter()
        t1 = j1 = None
        try:
            df = build()
            t1, j1 = time.perf_counter(), self._dag.nextJobId()
            out = materialize(df)
            return out, t1 - t0, time.perf_counter() - t1
        finally:
            end = time.perf_counter()
            if t1 is None:
                t1, j1 = end, self._dag.nextJobId()
            self.drain()
            j2, s2 = self.ids()
            cid = len(self.calls) + 1
            rec = {"pass": pass_no, "key": key, "module": module,
                   "build.s": t1 - t0}
            rec.update(self._jobs(j0, j1, j2, wall0, wall0 + t1 - t0, end - t0))
            rec.update(self._stages(s0, s2))
            rec.update(self._streams(self._listener.take()))
            rec.update(self._scratch(before))
            rec["trace.self_s"] = (t0 - pre) + (time.perf_counter() - end)
            self.calls.append(rec)
            spans = [
                {"name": "call", "parent": f"pass{pass_no}", "start": wall0,
                 "end": wall0 + end - t0},
                {"name": "build", "parent": "call", "start": wall0,
                 "end": wall0 + t1 - t0},
                {"name": "materialize", "parent": "call",
                 "start": wall0 + t1 - t0, "end": wall0 + end - t0},
            ] + rec.pop("_spans") + rec.pop("_stream_spans")
            self.spans += [dict(s, call=cid, key=key) for s in spans]

    def _jobs(self, j0, j1, j2, wall0, mat_wall, call_s) -> dict:
        """Jobs ``[j0, j1)`` ran while building, ``[j1, j2)`` while
        materializing; ``mat_wall`` is when materializing started."""
        intervals, spans, first_submit = [], [], None
        for job in range(j0, j2):
            data = self._store.job(job)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
            intervals.append((a, b))
            phase = "build" if job < j1 else "materialize"
            spans.append({"name": "job", "job_id": job, "parent": phase,
                          "start": a, "end": b})
            if phase == "materialize" and first_submit is None:
                first_submit = a
        busy = _union(intervals)
        return {
            "build.jobs": j1 - j0,
            "exec.jobs": j2 - j0,
            "exec.job_busy_s": busy,
            "exec.driver_gap_s": max(0.0, call_s - busy),
            "plan.first_job_delay_s": (
                None if first_submit is None else first_submit - mat_wall
            ),
            "_spans": spans,
        }

    def _stages(self, s0, s2) -> dict:
        stages = tasks = failed = run_ms = cpu_ns = gc_ms = 0
        inp = shuffle = spill = 0
        for stage in range(s0, s2):
            try:
                sd = self._store.lastStageAttempt(stage)
            except Py4JJavaError:  # id allocated for a stage never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += (sd.numCompleteTasks() + sd.numFailedTasks()
                      + sd.numKilledTasks())
            failed += sd.numFailedTasks()
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            gc_ms += sd.jvmGcTime()
            inp += sd.inputBytes()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return {
            "exec.stages": stages,
            "exec.tasks": tasks,
            "exec.failed_tasks": failed,
            "exec.executor_cpu_s": cpu_ns / 1e9,
            "exec.run_minus_cpu_s": run_ms / 1e3 - cpu_ns / 1e9,
            "exec.gc_s": gc_ms / 1e3,
            "exec.input_bytes": inp,
            "exec.shuffle_write_bytes": shuffle,
            "exec.spill_bytes": spill,
        }

    def _streams(self, events: list[dict]) -> dict:
        last_rows: dict[str, int] = {}
        for e in events:
            last_rows[e["run_id"]] = e["state_rows_total"]
        batch_ms = [e["duration_ms"].get("triggerExecution", 0) for e in events]
        dur = lambda k: sum(e["duration_ms"].get(k, 0) for e in events)  # noqa: E731
        return {
            "stream.batches": len(events),
            "stream.input_rows": sum(e["input_rows"] for e in events),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.state_commit_ms": sum(e["state_commit_ms"] for e in events),
            "stream.state_rows_total": sum(last_rows.values()),
            "_batch_ms": batch_ms,
            "_stream_spans": [
                {"name": "microbatch", "parent": "build", "run_id": e["run_id"],
                 "batch_id": e["batch_id"], "timestamp": e["timestamp"],
                 "duration_ms": ms}
                for e, ms in zip(events, batch_ms)
            ],
        }

    def _scratch(self, before: dict) -> dict:
        after = _scratch_state(self._scratch_root)
        written = [p for p, v in after.items() if before.get(p) != v]
        return {
            "scratch.files_written": len(written),
            "scratch.bytes_written": sum(after[p][1] for p in written),
        }

    def metrics(self, modules: list[str]) -> dict[str, float]:
        """Per-layer metrics over the traced calls: counters summed per
        pass, then the median over passes; first-job delay as the median
        call; micro-batch durations as percentiles over all batches."""
        passes = sorted({c["pass"] for c in self.calls})
        per_pass = lambda f: median(  # noqa: E731
            f([c for c in self.calls if c["pass"] == p]) for p in passes
        )
        out = {name: per_pass(lambda cs, n=name: sum(c.get(n, 0) for c in cs))
               for name in PASS_SUMS}
        for mod in modules:
            out[f"build.{mod}_s"] = per_pass(lambda cs, m=mod: sum(
                c["build.s"] for c in cs if c["module"] == m))
        delays = [c["plan.first_job_delay_s"] for c in self.calls
                  if c.get("plan.first_job_delay_s") is not None]
        out["plan.first_job_delay_s"] = median(delays) if delays else 0.0
        batches = [ms for c in self.calls for ms in c["_batch_ms"]]
        out["stream.microbatch_p50_ms"] = percentile(batches, 50) if batches else 0.0
        out["stream.microbatch_p90_ms"] = percentile(batches, 90) if batches else 0.0
        total_ms = sum(batches)
        rows = sum(c["stream.input_rows"] for c in self.calls)
        out["stream.rows_per_s"] = rows / (total_ms / 1e3) if total_ms else 0.0
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        total += max(0.0, b - max(a, reach))
        reach = max(reach, b)
    return total
