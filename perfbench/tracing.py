"""Spans and the Spark status-store harvest behind the traced run.

Spans nest workload › op › phase › Spark job › stage and share one
epoch-millisecond clock with the JVM (``time.time()`` and
``System.currentTimeMillis`` read the same wall clock), so job and stage
times recorded by Spark nest inside the Python spans. Spans stay in
memory until the run ends.

Jobs are attributed to an op and its phases by the
``dagScheduler().nextJobId()`` delta, which also catches streaming
micro-batch jobs that run on the stream's own thread and job group. Both
status stores (``SparkContext.statusStore`` for jobs/stages,
``SharedState.statusStore`` for SQL executions) work with
``spark.ui.enabled=false``; the live stores keep only the last 1000
entries, so every op is harvested as soon as it ends. Python-seam
traffic is read from the SQL metric accumulators the op created
(``AccumulatorContext``), which also covers plans that ran behind a
checkpoint and so never appear as a SQL execution of their own; the
scan at each phase end runs inside the op's wall time and is part of
the measured tracing overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
import uuid

from perfbench.stats import interval_union_ms, self_time_ms

# Metrics every Python-evaluating node registers, in creation order; the
# node's "number of output rows" accumulator is created right after the
# last of them (pyspark's PythonSQLMetrics), which is how rows returned
# by Python are told apart from other nodes' row counts.
_PYTHON_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to run Python workers": "python_run_ms",
}
_PYTHON_LAST = "time to run Python workers"
# AccumulatorV2.toString inside an Option, e.g.
# "Some(SQLMetric(id: 20, name: Some(data sent to Python workers), value: 827264))"
_ACC_TEXT = re.compile(r"^Some\(\w+\(id: \d+, name: Some\((.*)\), value: (-?[0-9.E]+)\)\)$")


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory spans for one run; ``enabled=False`` makes every call a
    no-op apart from the phase wall clock the untraced run also needs."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec_id = self._max_execution_id() if enabled else -1
        self.root = self._open(workload, "workload") if enabled else None

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, kind: str, **attrs) -> dict:
        span = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "name": name,
            "kind": kind,
            "start_ms": now_ms(),
            "end_ms": None,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end_ms"] = now_ms()
        self._stack.remove(span)

    def _new_accumulator_id(self) -> int:
        return self._sc._jvm.org.apache.spark.util.AccumulatorContext.newId()

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    @contextlib.contextmanager
    def op(self, name: str, round_no: int):
        """One op; yields the record the runner fills with phase walls."""
        rec = {"name": name, "round": round_no, "phases": {}, "trace_s": 0.0}
        if self.enabled:
            span = self._open(name, "op", round=round_no)
            j0 = self.next_job_id()
            self._acc_next = self._new_accumulator_id()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.enabled:
                self._close(span)
                rec["span"] = span
                rec["job_range"] = (j0, self.next_job_id())
                self._grab_python_accumulators(rec)

    @contextlib.contextmanager
    def phase(self, rec: dict, name: str, kind: str):
        """A phase of an op. ``kind`` is ``build`` (driver-side plan
        construction, including any eager actions it launches) or ``run``
        (Spark executing a plan). The tracer's own work inside the op is
        summed in ``rec['trace_s']``."""
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                rec["phases"][name] = {"kind": kind, "wall_s": time.perf_counter() - t0}
            return
        c0 = time.perf_counter()
        span = self._open(name, "phase", layer_kind=kind)
        j0 = self.next_job_id()
        t0 = time.perf_counter()
        rec["trace_s"] += t0 - c0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if kind == "build":
                self._grab_python_accumulators(rec)
            self._close(span)
            rec["phases"][name] = {"kind": kind, "wall_s": t1 - t0, "span": span,
                                   "job_range": (j0, self.next_job_id())}
            rec["trace_s"] += time.perf_counter() - t1

    def finish(self) -> None:
        if self.enabled and self.root["end_ms"] is None:
            self._close(self.root)

    # -- harvest -----------------------------------------------------------
    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def _new_executions(self) -> list:
        """SQL executions started since the last harvest, newest last."""
        n = self._sql.executionsCount()
        out = []
        chunk = 32
        hi = n
        while hi > 0:
            lo = max(0, hi - chunk)
            page = self._sql.executionsList(lo, hi - lo)
            batch = [page.apply(i) for i in range(page.size())]
            fresh = [e for e in batch if e.executionId() > self._last_exec_id]
            out = fresh + out
            if len(fresh) < len(batch):
                break
            hi = lo
        if out:
            self._last_exec_id = max(e.executionId() for e in out)
        return out

    def _grab_python_accumulators(self, rec: dict) -> None:
        """Hold the Python-node SQL metric accumulators created since the
        last grab. The registry references accumulators weakly, and a plan
        that ran behind a checkpoint is dropped by the JVM soon after it
        ran, so they are grabbed at the end of every build phase (where
        such plans are made) and of the op, and read when it is harvested.
        One ``toString`` per accumulator keeps the scan cheap."""
        ctx = self._sc._jvm.org.apache.spark.util.AccumulatorContext
        hi = ctx.newId()
        held = rec.setdefault("python_accs", [])
        after_python = False
        for acc_id in range(self._acc_next, hi):
            ref = ctx.get(acc_id)
            m = _ACC_TEXT.match(ref.toString())
            name = m.group(1) if m else ""
            if name in _PYTHON_METRICS:
                held.append((_PYTHON_METRICS[name], ref))
            elif after_python and name == "number of output rows":
                held.append(("python_rows", ref))
            after_python = name == _PYTHON_LAST
        self._acc_next = hi + 1

    @staticmethod
    def _python_metrics(rec: dict) -> dict:
        out = {"python_rows": 0.0, "bytes_to_python": 0.0, "bytes_from_python": 0.0,
               "python_run_ms": 0.0}
        for kind, ref in rec.pop("python_accs", []):
            out[kind] += max(float(_ACC_TEXT.match(ref.toString()).group(2)), 0.0)
        return out

    def _stage(self, store, stage_id: int, quantiles) -> dict | None:
        try:
            s = store.lastStageAttempt(stage_id)
        except Exception:  # never attempted (skipped) or evicted
            return None
        if s.status().toString() == "SKIPPED" or not s.submissionTime().isDefined():
            return None
        start = s.submissionTime().get().getTime()
        end = s.completionTime().get().getTime() if s.completionTime().isDefined() else start
        skew = None
        if s.numTasks() >= 2:
            summary = store.taskSummary(stage_id, s.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                skew = mx / med if med > 0 else None
        return {
            "stage_id": stage_id,
            "start_ms": start,
            "end_ms": end,
            "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "peak_exec_mem_bytes": s.peakExecutionMemory(),
            "skew": skew,
        }

    def harvest(self, rec: dict) -> None:
        """Attach the op's Spark jobs, stages and SQL executions as child
        spans and fold them into ``rec['spark']``."""
        store = self._jsc.statusStore()
        gw = self._sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        j0, j1 = rec["job_range"]
        phase_of = {}
        for pname, ph in rec["phases"].items():
            for j in range(*ph["job_range"]):
                phase_of[j] = ph
        jobs, stages, seen_stages = [], [], set()
        for job_id in range(j0, j1):
            try:
                j = store.job(job_id)
            except Exception:
                continue
            if not j.submissionTime().isDefined():
                continue
            start = j.submissionTime().get().getTime()
            end = j.completionTime().get().getTime() if j.completionTime().isDefined() else now_ms()
            parent = phase_of.get(job_id, {}).get("span", rec["span"])
            jspan = {
                "id": next(self._ids), "parent": parent["id"], "run_id": self.run_id,
                "name": f"job {job_id}", "kind": "job", "start_ms": start, "end_ms": end,
                "status": j.status().toString(),
            }
            self.spans.append(jspan)
            job_stages = []
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                st = self._stage(store, sid, quantiles)
                if st is None or sid in seen_stages:
                    continue
                seen_stages.add(sid)
                job_stages.append(st)
                self.spans.append({
                    "id": next(self._ids), "parent": jspan["id"], "run_id": self.run_id,
                    "name": f"stage {sid}", "kind": "stage", "start_ms": st["start_ms"],
                    "end_ms": st["end_ms"], "tasks": st["tasks"], "run_ms": st["run_ms"],
                })
            stages += job_stages
            jobs.append({
                "job_id": job_id, "start_ms": start, "end_ms": end,
                "phase": next((n for n, p in rec["phases"].items() if p is phase_of.get(job_id)), None),
                "gap_ms": self_time_ms(start, end, [(s["start_ms"], s["end_ms"]) for s in job_stages]),
            })
        exec_times = [e.submissionTime() for e in self._new_executions()]
        python = self._python_metrics(rec)
        rec["spark"] = {
            "jobs": jobs,
            "stages": stages,
            "expected_jobs": j1 - j0,
            "complete": len(jobs) == j1 - j0,
            "exec_submit_ms": exec_times,
            "python": python,
        }

    def skip_executions(self) -> None:
        """Mark SQL executions so far as seen: work the benchmark itself
        ran after an op is not charged to the next one."""
        self._new_executions()


def op_layer_numbers(rec: dict, cores: int) -> dict:
    """Per-op layer numbers from a harvested op record."""
    sp = rec["spark"]
    build = {n: p for n, p in rec["phases"].items() if p["kind"] == "build"}
    run = {n: p for n, p in rec["phases"].items() if p["kind"] == "run"}
    build_wall = sum(p["wall_s"] for p in build.values())
    build_jobs = [j for j in sp["jobs"] if j["phase"] in build]
    build_job_cover = sum(
        interval_union_ms([
            (max(j["start_ms"], p["span"]["start_ms"]), min(j["end_ms"], p["span"]["end_ms"]))
            for j in build_jobs if j["phase"] == n
        ])
        for n, p in build.items()
    ) / 1000.0
    build_execs = sum(
        1 for t in sp["exec_submit_ms"]
        for p in build.values() if p["span"]["start_ms"] <= t <= p["span"]["end_ms"]
    )
    stages = sp["stages"]
    run_ms = sum(s["run_ms"] for s in stages)
    skews = [s["skew"] for s in stages if s["skew"] is not None]
    wall = rec["wall_s"]
    return {
        "build.wall_s": build_wall,
        "build.self_s": max(build_wall - build_job_cover, 0.0),
        "build.jobs": len(build_jobs),
        "build.sql_execs": build_execs,
        "build.pins": rec.get("pins", 0),
        "build.share": build_wall / wall if wall > 0 else 0.0,
        "exec.wall_s": sum(p["wall_s"] for p in run.values()),
        "exec.jobs": len(sp["jobs"]),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_busy_s": run_ms / 1000.0,
        "exec.busy_share": run_ms / 1000.0 / (wall * cores) if wall > 0 else 0.0,
        "exec.sched_gap_s": sum(j["gap_ms"] for j in sp["jobs"]) / 1000.0,
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.task_skew": max(skews) if skews else 1.0,
        "exec.peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in stages), default=0),
        "seam.python_rows": sp["python"]["python_rows"],
        "seam.bytes_to_python": sp["python"]["bytes_to_python"],
        "seam.bytes_from_python": sp["python"]["bytes_from_python"],
        "seam.python_run_s": sp["python"]["python_run_ms"] / 1000.0,
        "trace.complete_share": 1.0 if sp["complete"] else 0.0,
    }
