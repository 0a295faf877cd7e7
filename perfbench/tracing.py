"""Spans kept in memory, self time per layer, and Spark event-log counters.

A span is one call into a layer, timed from the benchmark's side of the
call: name, start, end, parent span id and op id. Spans are written out
once, at the end of a traced run. Spark's own counters come from the
uncompressed event log, joined to ops through ``spark.jobGroup.id`` (one
job group per op).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; otherwise only times the calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the block; the elapsed seconds are in the yielded dict."""
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None}
        rec["start"] = time.perf_counter()
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child coverage."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


def eventlog_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, shuffle_mb, spill_mb and cpu_s."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith(".")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return {k: dict(v) for k, v in out.items()}
