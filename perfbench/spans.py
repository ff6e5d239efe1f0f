"""Per-call timing, spans and Spark counters, read from outside the package.

``Recorder.op`` wraps one call into the package. With tracing off it
only reads the clock. With tracing on, each phase of the op (``construct``:
the call that builds the plan; ``exec``: the action that consumes it)
runs under its own Spark job group, py4j commands sent by the driver are
counted, and after the phase the jobs of that group are looked up in the
JVM status store for tasks, executor run time, shuffle bytes, input
records and failed tasks. Spans (workload > pass > op > phase, with
parent ids) are kept in memory and written out at the end.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# counters every traced phase carries; None means the API was missing
COUNTERS = (
    "py4j_calls",
    "jobs",
    "tasks",
    "executor_run_ms",
    "shuffle_bytes",
    "input_records",
    "failed_tasks",
)


class _Py4jCounter:
    """Counts commands sent to the JVM by wrapping the gateway client's
    ``send_command``; counting is switched on only inside traced phases."""

    def __init__(self, sc) -> None:
        self.count = 0
        self.active = False
        self.available = False
        client = getattr(getattr(sc, "_gateway", None), "_gateway_client", None)
        if client is None or not hasattr(client, "send_command"):
            return
        orig = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.count += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        self.available = True


class Recorder:
    def __init__(self, spark, trace: bool) -> None:
        self.trace = trace
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.missing: set[str] = set()
        self._stack: list[int] = []
        self._next_group = 0
        self._seen_stages: set[int] = set()
        self._py4j = None
        if trace:
            sc = spark.sparkContext
            self._sc = sc
            self._jsc = sc._jsc.sc()
            self._py4j = _Py4jCounter(sc)
            if not self._py4j.available:
                self.missing.add("py4j_calls")

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        """A structural span (workload, pass); recorded in traced runs."""
        if not self.trace:
            yield None
            return
        rec = self._open(name, attrs)
        try:
            yield rec
        finally:
            self._close(rec)

    def _open(self, name: str, attrs: dict) -> dict:
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack.pop()

    # -- ops ----------------------------------------------------------------

    @contextmanager
    def op(self, kind: str, layer: str, warm: bool = True):
        """One call into the package; ``op.phase`` splits it."""
        op = _Op(self, kind, layer, warm)
        if self.trace:
            op.rec = self._open(kind, {"layer": layer, "kind": "op"})
        op.start = time.perf_counter()
        try:
            yield op
        except Exception as exc:
            op.error = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            op.end = time.perf_counter()
            if self.trace:
                self._close(op.rec)
                op.rec.update({"error": op.error, "warm": warm})
            self.ops.append(op.summary())

    def _drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:
            self.missing.add("listener_bus_drain")

    def _ungrouped_jobs(self) -> set[int] | None:
        try:
            return set(self._sc.statusTracker().getJobIdsForGroup(None))
        except Exception:
            self.missing.add("ungrouped_jobs")
            return None

    def _phase_counters(self, group: str, ungrouped_before: set[int] | None) -> dict:
        """Spark counters for the jobs one phase ran."""
        out = {c: None for c in COUNTERS if c != "py4j_calls"}
        self._drain()
        try:
            tracker = self._sc.statusTracker()
            job_ids = set(tracker.getJobIdsForGroup(group))
        except Exception:
            self.missing.update(out)
            return out
        # jobs that package code starts from its own threads do not
        # inherit the group; with one client every job that appeared
        # without a group during the phase is the phase's own
        after = self._ungrouped_jobs()
        if ungrouped_before is not None and after is not None:
            job_ids |= after - ungrouped_before
        out["jobs"] = len(job_ids)
        try:
            store = self._jsc.statusStore()
            tasks = run = shuf = inp = failed = 0
            for jid in sorted(job_ids):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in self._seen_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    status = str(sd.status().toString())
                    if status not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its work was counted before
                    self._seen_stages.add(sid)
                    tasks += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                    run += sd.executorRunTime()
                    shuf += sd.shuffleWriteBytes()
                    inp += sd.inputRecords()
                    failed += sd.numFailedTasks()
            out.update(
                tasks=tasks,
                executor_run_ms=run,
                shuffle_bytes=shuf,
                input_records=inp,
                failed_tasks=failed,
            )
        except Exception:
            for c in ("tasks", "executor_run_ms", "shuffle_bytes", "input_records", "failed_tasks"):
                self.missing.add(c)
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


class _Op:
    def __init__(self, recorder: Recorder, kind: str, layer: str, warm: bool) -> None:
        self.r = recorder
        self.kind = kind
        self.layer = layer
        self.warm = warm
        self.error: str | None = None
        self.phases: dict[str, dict] = {}
        self.rec: dict | None = None
        self.start = self.end = 0.0
        self.rows_out: int | None = None

    @contextmanager
    def phase(self, name: str):
        r = self.r
        if not r.trace:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.phases[name] = {"wall_s": time.perf_counter() - t0}
            return
        group = f"perfbench-{r._next_group}"
        r._next_group += 1
        r._sc.setJobGroup(group, f"{self.kind}:{name}")
        rec = r._open(name, {"layer": self.layer, "kind": "phase", "group": group})
        counter = r._py4j
        r._drain()
        ungrouped = r._ungrouped_jobs()
        before = counter.count
        counter.active = counter.available
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            counter.active = False
            ph = {"wall_s": wall, "py4j_calls": counter.count - before if counter.available else None}
            ph.update(r._phase_counters(group, ungrouped))
            r._sc.setLocalProperty("spark.jobGroup.id", None)
            r._close(rec)
            rec.update(ph)
            self.phases[name] = ph

    def summary(self) -> dict:
        return {
            "kind": self.kind,
            "layer": self.layer,
            "warm": self.warm,
            "wall_s": self.end - self.start,
            "error": self.error,
            "rows_out": self.rows_out,
            "phases": self.phases,
        }


# -- aggregation ---------------------------------------------------------------


def layer_table(ops: list[dict], nproc: int) -> dict[str, dict]:
    """Per-layer means per call over traced ops.

    ``construct_ms``/``exec_ms`` are the phase walls; ``wall_s`` their
    sum; counters are summed over phases (None if any phase lacked
    them); ``exec_idle_ms`` is the wall of phases that ran at least one
    Spark job minus executor run time spread over ``nproc`` cores.
    """
    by_layer: dict[str, list[dict]] = {}
    for op in ops:
        if op["error"] is None and op["phases"]:
            by_layer.setdefault(op["layer"], []).append(op)
    out = {}
    for layer, items in by_layer.items():
        rows = []
        for op in items:
            ph = op["phases"]
            row = {
                "construct_ms": 1000 * ph.get("construct", {}).get("wall_s", 0.0),
                "exec_ms": 1000 * ph.get("exec", {}).get("wall_s", 0.0),
            }
            row["wall_s"] = (row["construct_ms"] + row["exec_ms"]) / 1000
            for c in COUNTERS:
                vals = [p.get(c) for p in ph.values()]
                row[c] = None if any(v is None for v in vals) else sum(vals)
            if row["executor_run_ms"] is not None:
                action_ms = 1000 * sum(p["wall_s"] for p in ph.values() if p.get("jobs"))
                row["exec_idle_ms"] = action_ms - row["executor_run_ms"] / nproc
            else:
                row["exec_idle_ms"] = None
            rows.append(row)
        agg = {}
        for key in rows[0]:
            vals = [r[key] for r in rows]
            agg[key] = None if any(v is None for v in vals) else statistics.fmean(vals)
        agg["calls"] = len(rows)
        out[layer] = agg
    return out
