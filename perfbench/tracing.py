"""Tracing for the benchmark's traced runs.

Spans are recorded around the benchmark's own calls into each layer
(name, start, end, parent span, run id) and kept in memory until the run
ends. Spark's event log, enabled only in traced runs, gives the per-job
counters: every traced call runs under a job group
``<phase>|<kind>|<item>`` (phase ``warmup``, ``timed`` or ``probe``; kind
such as ``build``, ``exec`` or ``etl``) so jobs, tasks, executor CPU,
shuffle and spill can be attributed to the call that started them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. With ``enabled`` false, :meth:`span` only
    yields, so untraced runs pay no recording or job-group cost."""

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: stamped on every span: "setup", "timed" or "probe"
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "phase": self.phase,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if group is not None and self.sc is not None:
                self.sc.setJobGroup("idle", "idle")
            rec["end"] = time.monotonic()
            self._stack.pop()

    def durations(self, name: str, **match) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def self_times(self) -> dict[str, float]:
        """Span name → summed self time (duration minus child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf that writes one plain-JSON event log file per app."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def group_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Parse the event log(s) in ``log_dir``: job group → jobs, tasks,
    cpu_s, shuffle_bytes (written), spill_bytes (disk) and retries
    (task attempts after the first)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes", "retries"), 0
        )
    )
    for fname in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, fname)
        if not os.path.isfile(path) or fname.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "idle"
                    out[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    c = out[stage_group.get(ev["Stage ID"], "idle")]
                    c["tasks"] += 1
                    if ev["Task Info"]["Attempt"] > 0:
                        c["retries"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python workers)."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` plus all its descendants, in MB."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cached_bytes(sc) -> int:
    """Bytes Spark currently holds in cached RDD/Dataset blocks."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
