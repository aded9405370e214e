"""Spans around the benchmark's calls into the program, and the fold of
Spark's event log into them.

A span records name, start, end, parent, run id and the run's phase
(``setup``, ``prepare`` for untimed operations, ``timed``). While a span is open
the benchmark's Spark jobs run under a job group named after it, so the
event log's ``SparkListenerJobStart`` properties tie every job, and with
it every stage, to the innermost open span. Spans stay in memory; the
caller writes them out once, after the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from contextlib import contextmanager

# per-stage accumulables folded into each span (event-log name -> key)
STAGE_SUMS = {
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
}
COUNTERS = ("jobs", "tasks", *sorted(set(STAGE_SUMS.values())))


class Tracer:
    """Span recorder. With ``enabled`` false every span is a no-op, so the
    untraced run pays nothing but the context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # SparkContext whose jobs are grouped by span

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id, "phase": self.phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": attrs, "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.group(self._stack[-1] if self._stack else None)

    def group(self, rec: dict | None) -> None:
        """Run this thread's next Spark jobs under ``rec``'s job group."""
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{self.run_id}-{rec['id']}", rec["name"])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's wall minus the part of its interval its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            if cur_end is None or c["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start"], c["end"]
            else:
                cur_end = max(cur_end, c["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def fold_event_log(spans: list[dict], log_dir: str, app_id: str, run_id: str) -> None:
    """Add Spark counters to each span from the application's event log:
    jobs started under the span's job group, and the completed stages of
    those jobs (tasks plus the STAGE_SUMS accumulables). The largest
    per-task peak execution memory goes to ``peak_exec_mem_bytes``."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update({k: 0 for k in COUNTERS}, peak_exec_mem_bytes=0)
    prefix = f"pb-{run_id}-"
    stage_span: dict[int, dict] = {}
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")))
    files += sorted(glob.glob(os.path.join(log_dir, app_id)))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(prefix):
                        continue
                    span = by_id[int(group[len(prefix):])]
                    span["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = span
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    span = stage_span.get(info["Stage ID"])
                    if span is None:
                        continue
                    span["tasks"] += info["Number of Tasks"]
                    for acc in info.get("Accumulables", []):
                        key = STAGE_SUMS.get(acc.get("Name"))
                        if key is not None:
                            span[key] += int(acc["Value"])
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev["Stage ID"])
                    peak = (ev.get("Task Metrics") or {}).get("Peak Execution Memory", 0)
                    if span is not None and peak > span["peak_exec_mem_bytes"]:
                        span["peak_exec_mem_bytes"] = peak
