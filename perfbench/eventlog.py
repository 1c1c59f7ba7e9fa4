"""A small Spark event-log reader for the benchmark's per-layer numbers.

It reads the uncompressed, non-rolling JSON-lines log the benchmark enables
on its own session and attributes jobs, stages, tasks and SQL metrics to
ops by time: a job belongs to the op whose wall interval contains the
job's submission time.

``critical_path_s`` is the length of the UNION of the op's job intervals
(each clipped to the op), so overlapping jobs are counted once and
``driver_gap_s = op wall - critical_path_s`` is never negative.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric display names of Spark 4.1's Python nodes (PythonSQLMetrics):
# pythonDataSent, pythonDataReceived, pythonTotalTime, pythonBootTime
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
_ROW_METRICS = ("number of output rows", "records read")

SINGLE_TASK_MIN_BYTES = 1 << 20


@dataclass
class Stage:
    id: int
    n_tasks: int = 0
    start_ms: float = 0.0
    end_ms: float = 0.0
    task_ms: list = field(default_factory=list)
    shuffle_read: int = 0
    shuffle_write: int = 0
    acc: dict = field(default_factory=dict)  # accumulator id -> summed update


@dataclass
class Job:
    id: int
    start_ms: float
    end_ms: float | None = None
    stage_ids: tuple = ()


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    # accumulator id -> (node name, metric name)
    acc_meta: dict = field(default_factory=dict)
    # Python node's PY_SENT accumulator -> accumulator of its input rows
    # (AQE re-plans keep the node's own accumulators, so one entry per node)
    py_input_rows: dict = field(default_factory=dict)

    def feed(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = Job(e["Job ID"], float(e["Submission Time"]),
                                         stage_ids=tuple(e.get("Stage IDs", ())))
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = float(e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.n_tasks = int(info.get("Number of Tasks", 0))
            st.start_ms = float(info.get("Submission Time", 0))
            st.end_ms = float(info.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])

    def _stage(self, sid: int) -> Stage:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = Stage(sid)
        return st

    def _task_end(self, e: dict) -> None:
        st = self._stage(e["Stage ID"])
        info = e.get("Task Info", {})
        st.task_ms.append(float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0)))
        m = e.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += int(rd.get("Remote Bytes Read", 0)) + int(rd.get("Local Bytes Read", 0))
        st.shuffle_write += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
        for a in info.get("Accumulables", ()):
            upd = a.get("Update")
            try:
                v = float(upd)
            except (TypeError, ValueError):
                continue
            st.acc[a["ID"]] = st.acc.get(a["ID"], 0.0) + v

    def _plan(self, node: dict) -> None:
        metrics = {m["name"]: m for m in node.get("metrics", ())}
        for m in metrics.values():
            self.acc_meta[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
        if PY_SENT in metrics:
            acc = _first_row_metric(node.get("children", ()))
            if acc is not None:
                self.py_input_rows[metrics[PY_SENT]["accumulatorId"]] = acc
        for c in node.get("children", ()):
            self._plan(c)

    # -- per-op attribution ----------------------------------------------------

    def jobs_in(self, start_ms: float, end_ms: float) -> list:
        return [j for j in self.jobs.values() if start_ms <= j.start_ms <= end_ms]

    def op_layers(self, start_ms: float, end_ms: float) -> dict:
        """Per-layer numbers for the jobs of one op with wall [start, end]."""
        jobs = self.jobs_in(start_ms, end_ms)
        sids = sorted({s for j in jobs for s in j.stage_ids if s in self.stages})
        stages = [self.stages[s] for s in sids if self.stages[s].task_ms]
        crit_ms = union_ms([(j.start_ms, j.end_ms if j.end_ms is not None else end_ms)
                            for j in jobs], start_ms, end_ms)
        wall_ms = end_ms - start_ms
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(len(s.task_ms) for s in stages),
            "spark.critical_path_s": crit_ms / 1e3,
            "spark.driver_gap_s": (wall_ms - crit_ms) / 1e3,
            "spark.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
            "spark.shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        }
        acc: dict = {}
        single = 0
        for s in stages:
            for a, v in s.acc.items():
                acc[a] = acc.get(a, 0.0) + v
            to_py = sum(v for a, v in s.acc.items()
                        if self.acc_meta.get(a, ("", ""))[1] == PY_SENT)
            if s.n_tasks == 1 and to_py > SINGLE_TASK_MIN_BYTES:
                single += 1
        out["spark.python_single_task_stages"] = single
        longest = max(stages, key=lambda s: s.end_ms - s.start_ms, default=None)
        out["spark.task_skew"] = (max(longest.task_ms) / max(statistics.median(longest.task_ms), 1e-3)
                                  if longest else 1.0)
        out.update(self._python_metrics(acc))
        return out

    def _python_metrics(self, acc: dict) -> dict:
        def total(node_pred, name):
            return sum(v for a, v in acc.items()
                       if a in self.acc_meta and node_pred(self.acc_meta[a][0])
                       and self.acc_meta[a][1] == name)

        def any_py(node):
            return "Pandas" in node or "Python" in node or "Arrow" in node

        return {
            # input rows of the Python nodes that ran (an AQE re-plan can
            # list a node twice, once per plan version, with other children)
            "arrow.rows_to_python": sum(acc.get(a, 0.0) for a in {
                rows for py, rows in self.py_input_rows.items() if py in acc}),
            "arrow.bytes_to_python": total(any_py, PY_SENT),
            "arrow.bytes_from_python": total(any_py, PY_RECV),
            "arrow.python_s": total(any_py, PY_RUN) / 1e3,
            "arrow.python_boot_s": total(any_py, PY_BOOT) / 1e3,
            # stage-1 partials leave MapInPandas; the merge is grouped pandas
            "sketch_agg.partials_out": total(lambda n: n == "MapInPandas",
                                             "number of output rows"),
            "sketch_agg.partial_bytes": total(lambda n: n == "MapInPandas", PY_RECV),
            "sketch_agg.merge_groups": total(lambda n: n == "FlatMapGroupsInPandas",
                                             "number of output rows"),
        }


def _first_row_metric(children) -> int | None:
    """Breadth-first: the nearest descendant's row-count accumulator."""
    level = list(children)
    while level:
        for n in level:
            for m in n.get("metrics", ()):
                if m["name"] in _ROW_METRICS:
                    return m["accumulatorId"]
        level = [c for n in level for c in n.get("children", ())]
    return None


def union_ms(intervals, lo: float, hi: float) -> float:
    """Total length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read(log_dir: Path) -> EventLog:
    """Parse every event-log file under ``log_dir`` (read it after the
    session stopped: the writer buffers events until then)."""
    log = EventLog()
    for f in sorted(p for p in log_dir.rglob("*")
                    if p.is_file() and not p.name.startswith(".")):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    log.feed(json.loads(line))
    return log
