"""Spark event-log reading and the roll-up of its counters onto spans.

Pure Python over the JSON-lines event log Spark writes when
``spark.eventLog.enabled`` is set; no Spark import, so the self-test runs it
on a small committed log. A log is either one file or a rolling
``eventlog_v2_*`` directory of ``events_*`` parts, plain or zstd.

Attribution: the benchmark sets ``spark.jobGroup.id`` to ``pb:<span id>``
while a span is open, so each job names the innermost span that submitted
it. Jobs with any other group (structured-streaming micro-batches run under
the stream's run id) and streaming progress events are given to the
innermost span whose interval contains their timestamp.
"""

from __future__ import annotations

import bisect
import glob
import json
import math
import os
from collections import defaultdict
from datetime import datetime
from typing import Iterable, Iterator

GROUP_PREFIX = "pb:"

#: Per-span counters rolled up from the log.
COUNTERS = (
    "jobs", "stages", "tasks", "tasks_failed", "executor_run_ms",
    "executor_cpu_ns", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "stream_batches",
)


def quantile(values: Iterable[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default), ``0 <= q <= 1``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile level out of range: {q}")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def log_files(path: str) -> list[str]:
    """The event-log files under ``path`` (a file, a rolling-log directory,
    or a directory holding one application's log), in write order."""
    if os.path.isfile(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))
    if not parts:
        parts = glob.glob(os.path.join(path, "*", "events_*"))
    if not parts:
        parts = [p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p)]

    def order(p: str) -> tuple:
        name = os.path.basename(p)
        idx = name.split("_")[1] if name.startswith("events_") else "0"
        return (os.path.dirname(p), int(idx) if idx.isdigit() else 0, name)

    return sorted(parts, key=order)


def read_events(path: str) -> Iterator[dict]:
    for f in log_files(path):
        with open(f, "rb") as raw:
            if f.endswith(".zstd"):
                import pyarrow as pa

                data = pa.CompressedInputStream(raw, "zstd").read()
            else:
                data = raw.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _task_numbers(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


class SpanIndex:
    """Finds the innermost span covering a time. Spans are the tracer's
    records (``id``, ``parent``, ``start``, ``end`` in epoch seconds) and
    nest properly, as they all come from one driver thread."""

    def __init__(self, spans: list[dict]) -> None:
        self.spans = sorted(spans, key=lambda s: s["start"])
        self.starts = [s["start"] for s in self.spans]

    def innermost(self, t: float) -> int | None:
        i = bisect.bisect_right(self.starts, t) - 1
        while i >= 0:
            s = self.spans[i]
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                # the latest-starting span containing t is the innermost
                return s["id"]
            i -= 1
        return None


def rollup(events: Iterable[dict], spans: list[dict]) -> dict[int, dict[str, float]]:
    """Counters per span id (self only: not including child spans).

    Work that falls outside every span (set-up, the untraced passes, the
    output check) is dropped."""
    known = {s["id"] for s in spans}
    index = SpanIndex(spans)
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))

    def owner_of_group(props: dict, t: float) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
            if sid in known:
                return sid
        return index.innermost(t)

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            sid = owner_of_group(ev.get("Properties"), ev["Submission Time"] / 1000.0)
            job_span[job] = sid
            for st in ev.get("Stage IDs", []):
                # a stage is created by the first job that lists it
                stage_job.setdefault(st, job)
            if sid is not None:
                out[sid]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = job_span.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
            if sid is not None:
                out[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = job_span.get(stage_job.get(ev["Stage ID"], -1))
            if sid is None:
                continue
            rec = out[sid]
            rec["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                rec["tasks_failed"] += 1
            for k, v in _task_numbers(ev).items():
                rec[k] += v
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            sid = index.innermost(_epoch_s(ev["progress"]["timestamp"]))
            if sid is not None:
                out[sid]["stream_batches"] += 1
    return dict(out)


def subtree_totals(spans: list[dict], per_span: dict[int, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Counters per span including every descendant span."""
    children: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    totals: dict[int, dict[str, float]] = {}

    def visit(sid: int) -> dict[str, float]:
        acc = dict(per_span.get(sid) or dict.fromkeys(COUNTERS, 0))
        for c in children.get(sid, ()):
            for k, v in visit(c).items():
                acc[k] += v
        totals[sid] = acc
        return acc

    for root in children.get(None, ()):
        visit(root)
    return totals


def self_time(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its child spans cover."""
    children: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
