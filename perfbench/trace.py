"""Spans, job groups and the Spark event-log parser of the traced run.

Spans are timed from the benchmark's side, around calls into the
package's public functions; nothing inside the package is instrumented.
They are kept in memory and written out once, when the run ends.

Every traced operation runs under a Spark job group ``bench:<op>``, so
``statusTracker`` gives the jobs per operation, and the uncompressed
event log gives the stage and task metrics of those jobs.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "bench:"
IDLE_GROUP = "idle"


class Tracer:
    """In-memory span recorder.  ``span(name)`` times a block; spans of
    one operation share the ``op`` identifier set by :meth:`operation`,
    which also tags the Spark jobs the block starts."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._op: str | None = None
        self._stack: list[int] = []
        self._jobs: dict[str, list[int]] = {}

    @contextmanager
    def operation(self, op: str):
        self._op = op
        self._set_group(op)
        try:
            with self.span(op):
                yield
        finally:
            self._set_group(IDLE_GROUP)
            self._op = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "op": self._op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _set_group(self, op: str) -> None:
        self.spark.sparkContext.setJobGroup(GROUP_PREFIX + op, op)

    def resolve_jobs(self) -> None:
        """Record the job ids of every operation.  Waits for the listener
        bus first: a job's start event can trail the action that ran it."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        self._jobs = {s["name"]: list(tracker.getJobIdsForGroup(GROUP_PREFIX + s["name"]))
                      for s in self.spans if s["parent"] is None and s["op"]}

    def jobs(self, op: str) -> list[int]:
        """Job ids of operation *op*, as of :meth:`resolve_jobs`."""
        return self._jobs.get(op, [])

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every closed span called *name*."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """The untraced run's tracer: same calls, no recording, no tagging."""

    enabled = False

    @contextmanager
    def operation(self, op: str):
        yield

    @contextmanager
    def span(self, name: str):
        yield None


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def event_files(log_dir: str) -> list[str]:
    """The event files of every application logged under *log_dir*:
    plain files, or the ``events_<n>_*`` parts of a rolling log."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        full = os.path.join(log_dir, entry)
        if os.path.isdir(full):
            parts = glob.glob(os.path.join(full, "events_*"))
            out.extend(sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1])))
        elif not entry.startswith("."):  # skips the .crc checksum files
            out.append(full)
    return out


_PYTHON_RUN = "time to run Python workers"


def parse_event_log(paths: list[str]) -> dict:
    """Task metrics of the jobs whose job group starts with :data:`GROUP_PREFIX`,
    summed per group.

    Returns ``{group: {jobs, tasks, failed_tasks, executor_run_s,
    scheduler_delay_s, gc_s, shuffle_read_bytes, shuffle_write_bytes,
    spill_bytes, python_runner_s}}``.  Scheduler delay is the Spark UI's
    definition: task duration minus run, deserialize, result-serialize
    and getting-result time, floored at zero.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group and group.startswith(GROUP_PREFIX):
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is not None:
                        _add_task(out[group], ev)
    return {g: dict(m) for g, m in out.items()}


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
            "Reason", "Success") != "Success":
        acc["failed_tasks"] += 1
    run = tm.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    delay = (duration - run - tm.get("Executor Deserialize Time", 0)
             - tm.get("Result Serialization Time", 0)
             - info.get("Getting Result Time", 0))
    acc["executor_run_s"] += run / 1000
    acc["scheduler_delay_s"] += max(0, delay) / 1000
    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000
    sr = tm.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                           + tm.get("Disk Bytes Spilled", 0))
    for a in info.get("Accumulables", []):
        if a.get("Name") == _PYTHON_RUN:
            acc["python_runner_s"] += float(a.get("Update", 0)) / 1000


SPARK_FIELDS = ("executor_run_s", "scheduler_delay_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "gc_s",
                "python_runner_s", "failed_tasks")


def totals(groups: dict, exclude: tuple[str, ...] = ()) -> dict:
    """Sum the per-group metrics over every group not in *exclude*."""
    out = {k: 0.0 for k in SPARK_FIELDS + ("jobs", "tasks")}
    for g, m in groups.items():
        if g in exclude:
            continue
        for k in out:
            out[k] += m.get(k, 0.0)
    return out
