"""Spans around calls into the engine, plus Spark's own status stores.

A ``Tracer`` records one span per ``span(name)`` block, named
``<layer>.<call>``.  Each span carries the ids of the Spark jobs started
inside it; ``iteration_metrics`` adds those jobs, and their stages, as
child spans.  Spans stay in memory until ``dump()``.

Spark metrics come from the core status store (per stage) and the SQL
status store (per SQL execution); both work with ``spark.ui.enabled``
off.  The listener bus that fills them is asynchronous, so every span
boundary first waits for it to drain; that wait is part of the tracing
overhead the benchmark reports.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

MIB = 2**20

# SQL operator metrics summed per iteration: name -> per-layer key.
# The SQL store only exposes them formatted (see _parse_sql_metric).
SQL_METRICS = {
    "scan time": "scan.s",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.init_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MIB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}
_TOTAL = re.compile(r"^([\d.,]+)\s*(\w+)")


def _parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or MiB.

    Single values read ``"104 ms"``; aggregated ones read
    ``"total (min, med, max ...)\\n1.1 s (215 ms, ...)"``."""
    match = _TOTAL.match(text.split("\n")[-1])
    if not match:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(match.group(1).replace(",", "")) * _UNITS[match.group(2)]


class NullTracer:
    """Untraced runs: spans cost nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()


def _epoch_s(date) -> float:
    """scala.Option[java.util.Date] -> epoch seconds, nan when empty."""
    return date.get().getTime() / 1e3 if date.isDefined() else float("nan")


class Tracer:
    """Spans of the traced iterations, and per-layer metrics read from
    the status stores for each."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        self._seq = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.spans: list = []
        self._stack: list = []

    # ------------------------------------------------------------ spans
    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _last_job(self) -> int:
        return max(self._sc.statusTracker().getJobIdsForGroup(None), default=-1)

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).head().executionId() if n else -1

    def _add(self, name: str, start: float, end, parent) -> dict:
        rec = dict(id=len(self.spans), parent=parent, name=name, start=start, end=end)
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str):
        self._drain()
        first_job, first_exec = self._last_job() + 1, self._last_execution() + 1
        parent = self._stack[-1]["id"] if self._stack else None
        rec = self._add(name, time.time(), None, parent)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            self._drain()
            rec["end"] = time.time()
            rec["jobs"] = list(range(first_job, self._last_job() + 1))
            rec["executions"] = list(range(first_exec, self._last_execution() + 1))

    def _subtree(self, root: dict) -> list:
        ids, out = {root["id"]}, [root]
        for s in self.spans[root["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    # ------------------------------------------------------ status stores
    def _stages(self, job_id: int, parent: int) -> list:
        """Stages that ran for one job; adds job and stage child spans."""
        job = self._store.job(job_id)
        jspan = self._add(
            f"job.{job_id}", _epoch_s(job.submissionTime()), _epoch_s(job.completionTime()), parent
        )
        out = []
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        for sid in self._seq(job.stageIds()):
            for st in self._seq(
                self._store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, no_quantiles)
            ):
                if st.status().toString() == "SKIPPED":
                    continue
                rec = {
                    "job": job_id,
                    "stage": st.stageId(),
                    "attempt": st.attemptId(),
                    "first_task": _epoch_s(st.firstTaskLaunchedTime()),
                    "end": _epoch_s(st.completionTime()),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "input_rows": st.inputRecords(),
                    "output_mb": st.outputBytes() / MIB,
                    "shuffle_write_mb": st.shuffleWriteBytes() / MIB,
                    "shuffle_write_s": st.shuffleWriteTime() / 1e9,
                    "fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                    "spill_mb": st.diskBytesSpilled() / MIB,
                }
                self._add(f"stage.{rec['stage']}", _epoch_s(st.submissionTime()), rec["end"], jspan["id"])
                out.append(rec)
        return out

    def _sql_metrics(self, execution_id: int) -> dict:
        execution = self._sql.execution(execution_id)
        if not execution.isDefined():
            return {}
        values = self._seq(self._sql.executionMetrics(execution_id))
        out, seen = {}, set()
        for m in self._seq(execution.get().metrics()):
            key, acc = SQL_METRICS.get(m.name()), m.accumulatorId()
            if key and acc not in seen and values.get(acc) is not None:
                seen.add(acc)  # an operator reused in the plan repeats its metrics
                out[key] = out.get(key, 0.0) + _parse_sql_metric(values.get(acc))
        return out

    def _task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage["stage"], stage["attempt"], q)
        if not summary.isDefined():
            return 1.0
        run = self._seq(summary.get().executorRunTime())
        return run[1] / run[0] if run[0] > 0 else 1.0

    def iteration_metrics(self, root: dict, spine_rows: int) -> dict:
        """Per-layer metrics of one traced iteration (span ``root``)."""
        spans = self._subtree(root)
        owner = {j: s["id"] for s in spans for j in s["jobs"]}  # innermost span wins
        stages = [st for j in root["jobs"] for st in self._stages(j, owner[j])]

        def spent(name: str) -> float:
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def jobs(name: str) -> set:
            return {j for s in spans if s["name"] == name for j in s["jobs"]}

        m = {
            "temporal.asof_multi_s": spent("temporal.asof_multi"),
            "temporal.asof_multi_jobs": len(jobs("temporal.asof_multi")),
            "temporal.asof_union_s": spent("temporal.asof_union"),
            "temporal.asof_union_jobs": len(jobs("temporal.asof_union")),
            "pipeline.fit_s": spent("pipeline.fit"),
            "pipeline.fit_jobs": len(jobs("pipeline.fit")),
            "checkpoint.run_s": spent("checkpoint.run"),
            "checkpoint.resume_s": spent("checkpoint.resume"),
        }
        writes = [st for st in stages if st["job"] in jobs("checkpoint.run")]
        m["checkpoint.write_mb"] = sum(st["output_mb"] for st in writes)
        m["checkpoint.waves"] = len({st["job"] for st in writes if st["output_mb"] > 0})
        m["driver.jobs"] = len(root["jobs"])
        m["driver.stages"] = len(stages)
        # idle: iteration wall time covered by no stage's task-running interval
        busy, covered_to = 0.0, root["start"]
        for a, b in sorted((st["first_task"], st["end"]) for st in stages):
            a, b = max(a, covered_to), min(b, root["end"])
            if b > a:
                busy += b - a
                covered_to = b
        m["driver.idle_s"] = max(root["end"] - root["start"] - busy, 0.0)
        for key, field in [
            ("jvm.task_s", "run_s"), ("jvm.cpu_s", "cpu_s"), ("jvm.gc_s", "gc_s"),
            ("shuffle.write_mb", "shuffle_write_mb"), ("shuffle.write_s", "shuffle_write_s"),
            ("shuffle.fetch_wait_s", "fetch_wait_s"), ("spill.mb", "spill_mb"),
        ]:
            m[key] = sum(st[field] for st in stages)
        m["scan.rows_per_input_row"] = sum(st["input_rows"] for st in stages) / spine_rows
        for key in SQL_METRICS.values():
            m[key] = 0.0
        for e in root["executions"]:
            for key, v in self._sql_metrics(e).items():
                m[key] += v
        longest = max(stages, key=lambda st: st["end"] - st["first_task"], default=None)
        m["stage.task_skew"] = self._task_skew(longest) if longest else 1.0
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
