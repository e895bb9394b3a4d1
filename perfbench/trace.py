"""Per-layer spans measured from outside the package.

A span wraps one call into a package layer together with the action
that materializes the call's result. Untraced, a span only times the
block. Traced, it also tags the block's Spark jobs with a job group
(``SparkContext.setJobGroup``), reads job, stage and task counts for
that group from ``statusTracker`` right after the block, and later
joins the group to the event log for shuffle-write bytes and GC time.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    layer: str          # e.g. "sources.acquire", "plans.conversations"
    group: str          # the job group of its Spark jobs ("" untraced)
    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0     # stages that ran (skipped stages excluded)
    tasks: int = 0
    shuffle_write_bytes: int = 0
    gc_ms: int = 0


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self._seq = 0  # job groups stay unique when spans are cleared

    @contextmanager
    def span(self, layer: str):
        self._seq += 1
        sp = Span(layer, f"{layer}#{self._seq}" if self.traced else "")
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(sp.group, layer)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(sp)
            self.spans.append(sp)

    def _count_jobs(self, sp: Span) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(sp.group)
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                st = tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                sp.stages += 1
                sp.tasks += st.numCompletedTasks
        sp.jobs = len(job_ids)


def attach_event_log(spans: list[Span], event_log_dir: str) -> None:
    """Add shuffle-write bytes and GC time from the (stopped) app's event
    log to every traced span, matched by job group."""
    stage_group: dict[int, str] = {}
    shuffle: dict[str, int] = {}
    gc: dict[str, int] = {}
    for path in glob.glob(f"{event_log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if group is None or not metrics:
                        continue
                    sw = metrics.get("Shuffle Write Metrics") or {}
                    shuffle[group] = shuffle.get(group, 0) + sw.get("Shuffle Bytes Written", 0)
                    gc[group] = gc.get(group, 0) + metrics.get("JVM GC Time", 0)
    for sp in spans:
        sp.shuffle_write_bytes = shuffle.get(sp.group, 0)
        sp.gc_ms = gc.get(sp.group, 0)
