"""Spans recorded around the package's public calls, and Spark's event log
folded per span.

The benchmark never edits the package to trace it. ``Tracer.span`` is a
context manager the runner opens around the calls it makes, and
``patched`` wraps methods the package calls internally (for example the
in-line ``materialize_deltas`` inside ``CdcEngine.apply_batch``) for the
duration of a ``with`` block. Each span sets the Spark job-local property
``rap.bench.span`` to its id, so every job submitted while it is the
innermost open span carries that id into the event log; ``fold_event_log``
then attributes task metrics to spans.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import time
from collections.abc import Iterable, Iterator

SPAN_PROP = "rap.bench.span"

Interval = tuple[float, float]


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: without
    it spans are still recorded, but no job carries a span id."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # wall seconds spent opening and closing spans

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_prop(str(sid))
        self.cost_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            self._set_prop(str(self._stack[-1]) if self._stack else None)
            self.cost_s += time.perf_counter() - t

    def _set_prop(self, value: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, value)


@contextlib.contextmanager
def patched(tracer: Tracer, targets: Iterable[tuple[object, str, str]]):
    """Wrap ``owner.attr`` in a ``tracer`` span named ``name`` for each
    ``(owner, attr, name)`` target, restoring the originals on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))

            def wrapper(*args, __fn=fn, __name=name, **kwargs):
                with tracer.span(__name):
                    return __fn(*args, **kwargs)

            setattr(owner, attr, functools.wraps(fn)(wrapper))
        yield tracer
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


# ---------- interval arithmetic ----------


def union(ivs: Iterable[Interval]) -> list[Interval]:
    """Sorted, disjoint cover of ``ivs``."""
    out: list[list[float]] = []
    for a, b in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: Iterable[Interval], cut: Iterable[Interval]) -> list[Interval]:
    """Parts of ``base`` covered by no interval of ``cut``."""
    cuts = union(cut)
    out = []
    for a, b in union(base):
        lo = a
        for c, d in cuts:
            if d <= lo or c >= b:
                continue
            if c > lo:
                out.append((lo, c))
            lo = max(lo, d)
        if lo < b:
            out.append((lo, b))
    return out


def length(ivs: Iterable[Interval]) -> float:
    return sum(b - a for a, b in union(ivs))


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


def self_intervals(span: dict, kids: list[dict]) -> list[Interval]:
    """The span's own interval minus the part its child spans cover."""
    return subtract([(span["start"], span["end"])], [(k["start"], k["end"]) for k in kids])


def subtree(spans: list[dict], root: int) -> set[int]:
    kids = children(spans)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(k["id"] for k in kids[sid])
    return out


# ---------- Spark event log ----------


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application under ``log_dir``. Spark 4 writes a
    rolling directory ``eventlog_v2_<app>/events_<n>_<app>``; a plain
    single file is accepted too. Compression must be off."""
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    ]

    def order(path: str) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    events = []
    for f in sorted(files, key=order):
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_event_log(events: Iterable[dict]) -> tuple[dict[int, int], list[dict]]:
    """Fold job starts and task ends into (jobs per span id, task records).

    A stage belongs to the span its submitting job carried in
    ``rap.bench.span`` (the StageSubmitted properties, else the first job
    listing the stage). Jobs with no span id are not counted; their tasks
    are kept with span None, since they still occupy the executors."""
    jobs: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    tasks = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            sid = _span_of(e.get("Properties"))
            if sid is None:
                continue
            jobs[sid] = jobs.get(sid, 0) + 1
            for st in e.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerStageSubmitted":
            sid = _span_of(e.get("Properties"))
            if sid is not None:
                stage_span[e["Stage Info"]["Stage ID"]] = sid
        elif kind == "SparkListenerTaskEnd":
            info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
            if not tm:
                continue
            tasks.append(
                {
                    "span": stage_span.get(e["Stage ID"]),
                    "start": info["Launch Time"] / 1000.0,
                    "end": info["Finish Time"] / 1000.0,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "input_rows": tm.get("Input Metrics", {}).get("Records Read", 0),
                    "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
                    "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                }
            )
    return jobs, tasks


def _span_of(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROP)
    return int(v) if v not in (None, "") else None


def costs(
    span_ids: set[int], jobs: dict[int, int], tasks: list[dict], intervals: list[Interval]
) -> dict[str, float]:
    """Spark cost of the jobs issued from ``span_ids``, and the part of
    ``intervals`` (wall time) during which no task at all was running."""
    mine = [t for t in tasks if t["span"] in span_ids]
    busy = [(t["start"], t["end"]) for t in tasks]
    out = {
        "jobs": float(sum(jobs.get(s, 0) for s in span_ids)),
        "driver_only_s": length(subtract(intervals, busy)),
    }
    for k in ("run_s", "cpu_s", "gc_s", "input_rows", "output_bytes", "shuffle_write_bytes"):
        out[k] = float(sum(t[k] for t in mine))
    return out
