"""Spans around the benchmark's calls into the program, and per-span
task metrics from Spark's event log.

A span is (name, start, end, parent), kept in memory and written out
once at the end of the run (run.py, under ``.perfbench_work/traces``).
In a traced run every span also sets a Spark job group, so each job in
the event log can be charged to the span that started it; the event
log itself is switched on for that session only (``event_log_conf``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Records spans; when enabled and ``spark`` is set, runs each span
    under a Spark job group of its name (restoring the enclosing span's
    group on exit), so the event log can be split by span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": None if parent is None else self.spans[parent]["name"]}
        self.spans.append(rec)
        self._stack.append(idx)
        tagged = self.enabled and self.spark is not None
        if tagged:
            self.spark.sparkContext.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if tagged:
                outer = rec["parent"] or ""
                self.spark.sparkContext.setJobGroup(outer, outer)

    def subtree(self, name: str) -> set[str]:
        """``name`` and the names of every span nested inside it."""
        names, grew = {name}, True
        while grew:
            more = {s["name"] for s in self.spans if s["parent"] in names}
            grew = not more <= names
            names |= more
        return names

    def wrap(self, module, attr: str) -> None:
        """Replace ``module.attr`` with a version that runs in a span of
        the same name (the benchmark's own wrapper; the program is not
        changed)."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(attr):
                return fn(*args, **kwargs)
        setattr(module, attr, traced)


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def span_task_metrics(log_dir: str, spans: dict[str, set[str]]) -> dict:
    """Per span in ``spans`` (name -> the job groups it covers: itself
    and its nested spans): executor busy time, shuffle bytes written,
    bytes spilled to disk, and the task skew (max / median task
    duration) of the span's busiest multi-task stage, with its base."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[tuple[float, float, int, int]]] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    dur_s = (info.get("Finish Time", 0)
                             - info.get("Launch Time", 0)) / 1000.0
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill = m.get("Disk Bytes Spilled", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (run_s, dur_s, shuffle, spill))
    out = {}
    for span, groups in spans.items():
        stages = {sid: t for sid, t in tasks.items()
                  if stage_group.get(sid) in groups}
        rows = [t for ts in stages.values() for t in ts]
        # skew needs at least two tasks to compare
        longest = max((ts for ts in stages.values() if len(ts) > 1),
                      default=[], key=lambda ts: sum(t[0] for t in ts))
        durs = [t[1] for t in longest]
        t_max = max(durs, default=0.0)
        # floor the median at the event log's 1 ms resolution
        t_med = max(statistics.median(durs), 0.001) if durs else 0.0
        out[span] = {
            "task_s": sum(t[0] for t in rows),
            "shuffle_write_mb": sum(t[2] for t in rows) / 2**20,
            "spill_mb": sum(t[3] for t in rows) / 2**20,
            "task_skew": t_max / t_med if t_med else 0.0,
            "skew_task_max_s": t_max,
            "skew_task_p50_s": t_med,
            "tasks": len(rows),
        }
    return out
