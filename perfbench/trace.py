"""Spans and per-layer counters recorded from outside the program.

:class:`Tracer` keeps spans (name, start, end, parent, trace id) in memory
around the benchmark's calls into each layer and writes them out once, at
the end of a run. With tracing off, :meth:`Tracer.span` returns one shared
no-op context, so the untraced run pays a method call per layer boundary.

:func:`exec_profile` reads what Spark's public status APIs know about the
jobs of one job group: job and stage counts, executor run and CPU time,
shuffle and spill bytes, and the slowest task against the median task.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

from perfbench.stats import commit_ms

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0
        self.cost_s = 0.0  # time spent reading profiles for the trace
        # epoch seconds minus perf_counter seconds: places events that
        # carry wall-clock times (streaming progress) on the span clock
        self._epoch = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def cost(self):
        """Charge the enclosed work to the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0

    def overhead_s(self) -> float:
        """Profile reads plus span bookkeeping, the latter from a
        calibration of this process's per-span cost."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(1000):
            with probe.span("calibrate"):
                pass
        per_span = (time.perf_counter() - t0) / 1000
        return self.cost_s + per_span * len(self.spans)

    def new_trace(self) -> None:
        """Start a new trace id: one per query or micro-batch."""
        self._trace += 1

    def span(self, name: str):
        if not self.enabled:
            return _NOOP
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {
            "trace": self._trace,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record_batches(self, progresses) -> None:
        """One span per streaming micro-batch, from its progress event:
        its own trace id, the ``durationMs`` phases as attributes."""
        if not self.enabled:
            return
        for p in progresses:
            self.new_trace()
            end = commit_ms(p) / 1000 - self._epoch
            self.spans.append({
                "trace": self._trace, "id": len(self.spans), "parent": None,
                "name": "micro-batch", "start": end - p["batchDuration"] / 1000,
                "end": end, "batch": p["batchId"], "rows": p["numInputRows"],
                "durationMs": p.get("durationMs", {}),
            })

    def self_seconds(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_seconds()}, f)


EXEC_FIELDS = ("jobs", "stages", "single_task_stages", "run_ms", "cpu_ms",
               "shuffle_write_bytes", "spill_bytes")


def exec_profile(spark, group: str) -> dict:
    """Stage-level sums for the jobs of job group ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    prof = dict.fromkeys(EXEC_FIELDS, 0)
    prof["jobs"] = len(jobs)
    prof["skew"] = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - skipped stage: never ran
                continue
            prof["stages"] += 1
            if st.numTasks() == 1:
                prof["single_task_stages"] += 1
            else:
                prof["skew"].append(_task_skew(store, int(sid), st.attemptId()))
            prof["run_ms"] += st.executorRunTime()
            prof["cpu_ms"] += st.executorCpuTime() / 1e6
            prof["shuffle_write_bytes"] += st.shuffleWriteBytes()
            prof["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return prof


def add_profile(total: dict, prof: dict) -> None:
    for k in EXEC_FIELDS:
        total[k] = total.get(k, 0) + prof[k]
    total.setdefault("skew", []).extend(prof["skew"])


def exec_layers(total: dict, n: int) -> dict:
    """Per-layer ``exec.*`` metrics, per query or per micro-batch."""
    n = max(n, 1)
    run_ms = total.get("run_ms", 0.0)
    skew = total.get("skew", [])
    return {
        "exec.jobs": total.get("jobs", 0) / n,
        "exec.stages": total.get("stages", 0) / n,
        "exec.single_task_stage_ratio":
            total.get("single_task_stages", 0) / max(total.get("stages", 0), 1),
        "exec.run_s": run_ms / 1000 / n,
        "exec.cpu_s": total.get("cpu_ms", 0.0) / 1000 / n,
        "exec.cpu_over_run": total.get("cpu_ms", 0.0) / run_ms if run_ms else 0.0,
        "exec.shuffle_write_bytes": total.get("shuffle_write_bytes", 0) / n,
        "exec.spill_bytes": total.get("spill_bytes", 0) / n,
        "exec.task_max_over_median": statistics.median(skew) if skew else 1.0,
    }


def _task_skew(store, sid: int, attempt: int) -> float:
    """Slowest task's run time over the median task's, for one stage."""
    tasks = store.taskList(sid, attempt, 100000)
    runs = [t.taskMetrics().get().executorRunTime() for t in _iter(tasks)
            if t.taskMetrics().isDefined()]
    if not runs:
        return 1.0
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def planning_ms(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
