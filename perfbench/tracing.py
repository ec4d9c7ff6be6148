"""Measurement helpers: spans, Spark event-log totals, process-tree RSS.

Spans are kept in memory and written out once, when the run ends. Each
span records its name, start, end, parent span and op id; times are
seconds on the ``time.perf_counter`` clock of the benchmark process.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


class Spans:
    def __init__(self) -> None:
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "op": op,
        }
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()


@dataclass
class GroupTotals:
    """Executor-side totals of the jobs of one Spark job group."""

    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0


def parse_event_log(path: str) -> dict[str, GroupTotals]:
    """Per job group totals from a Spark JSON event log.

    Stages count once per completed attempt; tasks count every attempt,
    failed ones included, so retries show as extra tasks."""
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group.update(dict.fromkeys(ev["Stage IDs"], group))
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    groups[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                g.tasks += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    g.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                g.task_run_s += m.get("Executor Run Time", 0) / 1e3
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                read = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_mb += (
                    read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                ) / 1e6
                write = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_mb += write.get("Shuffle Bytes Written", 0) / 1e6
                g.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
    return dict(groups)


class TreeRss:
    """Peak resident memory of this process and all its descendants.

    Sampled at op boundaries (no sampling thread). Each process's own
    peak (``VmHWM``) is kept, so a worker that exits between samples
    still counts if it was seen once; the reported peak is the sum of
    per-process peaks, an upper bound on the tree's simultaneous peak."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                    stat = f.read()
            except OSError:
                continue
            # Field 4 (ppid) follows the parenthesised command name.
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children[ppid].append(int(entry))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        return [p for p in self._descendants(os.getpid()) if p != os.getpid()]

    def sample(self) -> None:
        for pid in self._descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status", encoding="ascii") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))
                            break
            except OSError:
                continue

    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
