"""Per-layer attribution for the traced run, measured from outside the library.

Three sources, each read at a public boundary:

* **Base learner (MLlib).**  ``Tracer.tree_regressor`` returns a subclass
  of the MLlib tree learner whose ``_fit`` records its wall interval.  The
  ensemble receives it through its public ``baseLearner`` param and copies
  it per member (``Params.copy`` keeps the class and the recorder).
* **Boosting loop.**  A handler on the ``spark_ensemble_spark.fit`` logger
  (``core/instrumentation.py``) collects the per-iteration lines.
* **Spark engine.**  The Spark event log of the traced context: jobs,
  stages, task metrics and structured-streaming progress events.  Jobs are
  attributed to operations by time window, because operations run one at a
  time and job-group properties do not follow the estimators' fit threads.
"""

from __future__ import annotations

import json
import logging
import os
import re
import threading
import time
from datetime import datetime

from pyspark.ml.regression import DecisionTreeRegressor

FIT_LOGGER = "spark_ensemble_spark.fit"
_PYTHON_STAGE = re.compile(r"Python|Pandas|Arrow")
_PROGRESS_EVENT = "StreamingQueryListener$QueryProgressEvent"


def union_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class _FitLog(logging.Handler):
    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list = []

    def emit(self, record: logging.LogRecord) -> None:
        self.records.append((record.created, record.msg, record.args))


class _TimedFit:
    """Mixin recording each base-learner fit's wall interval."""

    _intervals: list
    _lock: threading.Lock

    def _fit(self, dataset):
        t0 = time.time()
        try:
            return super()._fit(dataset)
        finally:
            with self._lock:
                self._intervals.append((t0, time.time()))


class TimedDecisionTreeRegressor(_TimedFit, DecisionTreeRegressor):
    pass


class Tracer:
    """Python-side hooks of one traced segment.  ``None`` stands for tracing
    off wherever a tracer is passed."""

    def __init__(self) -> None:
        self.base_fits: list = []
        self._lock = threading.Lock()
        self._fitlog = _FitLog()
        self._logger = logging.getLogger(FIT_LOGGER)
        self._saved_level = self._logger.level

    def __enter__(self) -> "Tracer":
        self._logger.addHandler(self._fitlog)
        self._logger.setLevel(logging.INFO)
        return self

    def __exit__(self, *exc) -> None:
        self._logger.removeHandler(self._fitlog)
        self._logger.setLevel(self._saved_level)

    def tree_regressor(self, **params):
        learner = TimedDecisionTreeRegressor(**params)
        learner._intervals = self.base_fits
        learner._lock = self._lock
        return learner

    def op_layers(self, t0: float, t1: float, members: int) -> dict:
        """Base-learner and boosting-loop figures for the operation that ran
        in wall window [t0, t1]."""
        with self._lock:
            fits = [iv for iv in self.base_fits if t0 <= iv[0] <= t1]
        iters: dict = {}
        for created, msg, args in list(self._fitlog.records):
            if t0 <= created <= t1 and " iter=" in msg:
                iters.setdefault(args[0], []).append(args[-1])
        steps = []
        for elapsed in iters.values():
            steps += [b - a for a, b in zip([0.0] + elapsed[:-1], elapsed)]
        rounds = sum(len(v) for v in iters.values())
        return {
            "base.fit_s": union_s(fits, t0, t1),
            "base.fit_n": len(fits),
            "fit.iter_n": rounds,
            "fit.iter_steps": steps,
            "fit.members_kept": members if rounds else 0,
        }


def tree_regressor(tracer, **params):
    return tracer.tree_regressor(**params) if tracer else DecisionTreeRegressor(**params)


# ---- Spark event log ------------------------------------------------------


def _iso_ms(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def _event_lines(log_dir: str, app_id: str):
    """Lines of one application's event log: a single file, or the numbered
    parts of a rolling log (``eventlog_v2_<app>/events_<n>_<app>``)."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolling):
        parts = [p for p in os.listdir(rolling) if p.startswith("events_")]
        files = [os.path.join(rolling, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [os.path.join(log_dir, app_id)]
    for path in files:
        with open(path) as f:
            yield from f


def engine_layers(log_dir: str, app_id: str, windows: list) -> list:
    """Per-operation engine figures from one context's event log.

    ``windows`` is a list of (t0, t1) wall seconds, one per operation; the
    result has one dict per window."""
    jobs: dict = {}
    stage_job: dict = {}
    stages: dict = {}
    progress: list = []
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev["Submission Time"], None]
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            names = " ".join(
                (r.get("Scope") or "") + " " + (r.get("Name") or "")
                for r in info.get("RDD Info", [])
            )
            st = stages.setdefault(info["Stage ID"], _stage())
            st["python"] = bool(_PYTHON_STAGE.search(names))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _stage())
            st["tasks"] += 1
            st["failed"] += int(ev["Task Info"].get("Failed", False))
            m = ev.get("Task Metrics") or {}
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            r = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            w = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
        elif kind.endswith(_PROGRESS_EVENT):
            p = ev["progress"]
            progress.append((_iso_ms(p["timestamp"]), p.get("durationMs", {})))

    job_stages: dict = {}
    for sid, jid in stage_job.items():
        if sid in stages:
            job_stages.setdefault(jid, []).append(stages[sid])
    out = []
    for t0, t1 in windows:
        lo, hi = t0 * 1000.0, t1 * 1000.0
        mine = [j for j, (s, e) in jobs.items() if lo <= s <= hi]
        spans = [(jobs[j][0], jobs[j][1] if jobs[j][1] is not None else hi) for j in mine]
        sts = [st for j in mine for st in job_stages.get(j, ())]
        busy = union_s(spans, lo, hi) / 1000.0
        batches = [d for ts, d in progress if lo <= ts <= hi]
        out.append(
            {
                "spark.jobs_n": len(mine),
                "spark.stages_n": len(sts),
                "spark.tasks_n": sum(st["tasks"] for st in sts),
                "spark.job_busy_s": busy,
                "driver.gap_s": (t1 - t0) - busy,
                "spark.task_s": sum(st["run_ms"] for st in sts) / 1000.0,
                "spark.gc_s": sum(st["gc_ms"] for st in sts) / 1000.0,
                "spark.failed_tasks_n": sum(st["failed"] for st in sts),
                "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in sts),
                "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in sts),
                "spark.spill_bytes": sum(st["spill"] for st in sts),
                "spark.python_stage_s": sum(st["run_ms"] for st in sts if st["python"]) / 1000.0,
                "streaming.batches_n": len(batches),
                "streaming.planning_s": sum(d.get("queryPlanning", 0) for d in batches) / 1000.0,
                "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in batches) / 1000.0,
                "streaming.commit_s": sum(
                    d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in batches
                ) / 1000.0,
            }
        )
    return out


def _stage() -> dict:
    return dict(
        python=False, tasks=0, failed=0, run_ms=0, gc_ms=0, spill=0,
        shuffle_read=0, shuffle_write=0,
    )
