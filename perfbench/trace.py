"""Spans, layer labels, SnapLog call wrappers and Spark event-log counters.

Everything here runs in the benchmark's own process, around calls into the
package's public functions; nothing inside the package is changed. A span is
(name, start, end, parent, run id). Spark jobs started inside a span carry its
name as their job description and in the ``perfbench.span`` local property, so
the event log attributes stage counters to layers; streaming micro-batch jobs
are attributed by their ``streaming.sql.batchId`` property."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

SPAN_PROP = "perfbench.span"

# event-log accumulable name -> counter name
_STAGE_COUNTERS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}

# SnapLog functions that read the log, and those that commit a snapshot
_SNAPLOG_READS = ("current_snapshot", "history", "snapshots_newest_first", "read")
_SNAPLOG_COMMITS = ("append", "overwrite_partitions", "compact", "expire_snapshots")


class Tracer:
    """Span recorder. Disabled, ``span`` only runs the body, so untraced and
    traced runs execute the same benchmark code."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "id": len(self.spans),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = sc.getLocalProperty(SPAN_PROP)
        sc.setLocalProperty(SPAN_PROP, name)
        sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(SPAN_PROP, outer)
            sc.setJobDescription(outer)

    def add_span(self, name: str, start: float, end: float, parent: int | None, **attrs):
        """A span timed by the caller (e.g. between two wrapped calls)."""
        if self.enabled:
            self.spans.append({
                "name": name, "start": start, "end": end, "parent": parent,
                "run_id": self.run_id, "id": len(self.spans), **attrs,
            })

    # ---------------------------------------------------------------- patches
    def wrap(self, module, attr: str, span_name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper (traced runs only);
        ``on_result(result, args, kwargs)`` may annotate the span."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out, args, kwargs)
                return out

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def wrap_snaplog(self) -> None:
        from openfactverification_spark.sources import snaplog

        for name in _SNAPLOG_COMMITS:
            self.wrap(snaplog, name, f"snaplog.{name}")
        for name in _SNAPLOG_READS:
            if name == "read":
                self.wrap(snaplog, name, "snaplog.read", on_result=_note_read_bytes)
            elif name == "snapshots_newest_first":
                self._wrap_generator(snaplog, name)
            else:
                self.wrap(snaplog, name, f"snaplog.{name}")

    def _wrap_generator(self, module, attr: str) -> None:
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                yield from orig(*args, **kwargs)
                return
            # a lazy walk: one span per call, its length the time spent
            # loading the snapshots the caller pulled
            now = time.perf_counter()
            tracer.add_span(f"snaplog.{attr}", now, now,
                            tracer._stack[-1] if tracer._stack else None)
            rec = tracer.spans[-1]
            it = orig(*args, **kwargs)
            while True:
                t0 = time.perf_counter()
                try:
                    snap = next(it)
                except StopIteration:
                    return
                finally:
                    rec["end"] += time.perf_counter() - t0
                yield snap

        if self.enabled:
            self._patches.append((module, attr, orig))
            setattr(module, attr, wrapper)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------------- queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _note_read_bytes(rec, df, args, kwargs) -> None:
    """Bytes of the files a SnapLog read references (its pinned snapshot)."""
    if rec is None:
        return
    total = 0
    for uri in df.inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        total += os.path.getsize(path)
    rec["table"] = os.path.basename(str(args[1]).rstrip("/"))
    rec["bytes"] = total


# --------------------------------------------------------------------- event log
class EventLog:
    """Per-span and per-streaming-batch stage counters and SQL execution
    counts, parsed from a Spark event-log file once the session has stopped."""

    def __init__(self, path: str):
        self.by_span: dict[str, dict[str, int]] = {}
        self.by_batch: dict[int, dict[str, int]] = {}
        self.sql_by_span: dict[str, int] = {}
        stage_owner: dict[int, tuple[str | None, int | None]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    owner = (props.get(SPAN_PROP), None if batch is None else int(batch))
                    for sid in ev.get("Stage IDs", []):
                        stage_owner.setdefault(sid, owner)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    counts: dict[str, int] = {}
                    for acc in info.get("Accumulables", []):
                        key = _STAGE_COUNTERS.get(acc.get("Name"))
                        if key is not None:
                            counts[key] = counts.get(key, 0) + int(acc.get("Value", 0))
                    span, batch = stage_owner.get(info["Stage ID"], (None, None))
                    if span:
                        _add(self.by_span.setdefault(span, {}), counts)
                    if span and batch is not None:  # streams started in a span
                        _add(self.by_batch.setdefault(batch, {}), counts)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    if ev.get("rootExecutionId", ev["executionId"]) != ev["executionId"]:
                        continue
                    desc = ev.get("description") or ""
                    self.sql_by_span[desc] = self.sql_by_span.get(desc, 0) + 1

    def sql_count(self, prefix: str) -> int:
        return sum(n for s, n in self.sql_by_span.items() if s.startswith(prefix))


def _add(into: dict[str, int], counts: dict[str, int]) -> None:
    for k, v in counts.items():
        into[k] = into.get(k, 0) + v
