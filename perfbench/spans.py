"""Spans recorded around calls into the package, plus an event-log reader.

Nothing here reaches inside the package: a span wraps a public call made by
the benchmark, tags the Spark jobs it starts with a job group, and the
per-group task metrics come from Spark's own event log after the session
stops.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over this machine's vCPUs, from
    /proc/stat; busy is user + nice + system + irq + softirq, stolen is the
    time the hypervisor ran another tenant while a vCPU had work. (0, 0)
    where /proc/stat is absent."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of an interval, less what other tenants of the host took.

    On a shared host, steal comes in bursts of tens of percent and stretches
    every wall time by its share ``s`` of the vCPUs' non-idle time. That
    share applies alike to a serial stretch (one busy vCPU) and a parallel
    one (all busy). The load that steals ``s`` of the vCPUs' time also
    shares their cores and caches while they run, and slows the time left
    by about the same share, so ``elapsed`` is the wall time scaled by
    ``(1 - s) ** 2``: about the time the same work takes on a quiet host.
    Scaled by ``1 - s`` alone, registry times still rose with steal (a
    gate pass read 21 s at 1% steal and 29 s at 36%)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = cpu_ticks()

    def raw(self) -> float:
        return time.perf_counter() - self.t0

    def stolen_share(self) -> float:
        busy, steal = cpu_ticks()
        ran, lost = busy - self.busy0, steal - self.steal0
        return lost / (ran + lost) if ran + lost > 0 else 0.0

    def elapsed(self) -> float:
        return self.raw() * (1.0 - self.stolen_share()) ** 2


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str  # the day (or gate) the span belongs to
    group: str  # Spark job group of the jobs started inside the span
    secs: float  # end - start scaled for steal (see Stopwatch)


@dataclass
class Tracer:
    """In-memory span log; written out once, at the end of a run."""

    sc: object  # SparkContext
    workload: str
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, parent: str, name: str):
        group = f"{self.workload}:{parent}:{name}"
        self.sc.setJobGroup(group, group)
        watch = Stopwatch()
        try:
            yield
        finally:
            self.spans.append(Span(name, watch.t0, time.perf_counter(), parent, group, watch.elapsed()))
            self.sc.setJobGroup(f"{self.workload}:{parent}:untraced", "untraced")

    def of(self, parent: str) -> list[Span]:
        return [s for s in self.spans if s.parent == parent]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=0)


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    task_ms: float = 0.0  # summed executor run time
    shuffle_write: int = 0
    spill_disk: int = 0


def parse_event_log(event_dir: str) -> dict[str, GroupMetrics]:
    """Job group -> task metrics, from the event log's public JSON lines.

    Spark 4 writes either one file or a rolling directory per application;
    both are walked. The log must be uncompressed.
    """
    paths = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(event_dir)
        for f in files
        if not f.startswith(".") and "appstatus" not in f
    )
    group_of_stage: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        out.setdefault(grp, GroupMetrics()).jobs += 1
                        for info in ev.get("Stage Infos", []):
                            group_of_stage[info["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = group_of_stage.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if not grp or not tm:
                        continue
                    g = out.setdefault(grp, GroupMetrics())
                    g.tasks += 1
                    g.task_ms += tm.get("Executor Run Time", 0)
                    g.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g.spill_disk += tm.get("Disk Bytes Spilled", 0)
    return out
