"""Spans around calls into the engine, and the reduction of Spark's event
log per span.

A span is one call into a public engine function, timed by the caller.
While a span is open its id is the Spark job group of the calling thread,
so every Spark job the call launches carries the span id in the event
log.  ``reduce_event_log`` then sums the TaskEnd metrics of each span's
jobs, and splits Python-worker time by the UDF that ran it (the Gorilla
encoder, the Gorilla decoder, the operator kernel).
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: str
    name: str
    parent: "str | None"
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job
    group, so untraced operations run exactly the engine's code."""

    sc: object
    enabled: bool = False
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"pb-{len(self.spans)}", name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        # the streaming engine calls foreachBatch on its own thread, so
        # restore whatever group that thread had rather than the parent's
        prev = (self.sc.getLocalProperty(GROUP_KEY),
                self.sc.getLocalProperty(DESC_KEY))
        self.sc.setJobGroup(s.id, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_KEY, prev[0])
            self.sc.setLocalProperty(DESC_KEY, prev[1])
            s.end = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped


@contextmanager
def patched(tracer: Tracer):
    """Time the table-commit and stream-merge layers from inside the
    engine's own calls by wrapping their public functions for the
    duration of one traced operation."""
    from tsaug_spark.sources.tables import ParquetSnapshotTable
    from tsaug_spark.streaming import stream_sink

    saved = []
    targets = [
        (ParquetSnapshotTable, m, f"tables.{m}")
        for m in ("read", "append", "overwrite", "overwrite_partitions")
    ] + [(stream_sink, "merge_batch_into_tier", "streaming.merge_batch")]
    for owner, attr, name in targets:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


# ------------------------------------------------------------------ spans

def children(spans: list) -> dict:
    out = defaultdict(list)
    for s in spans:
        out[s.parent].append(s)
    return out


def self_time(s: Span, kids: dict) -> float:
    """Duration minus the part covered by child spans (children of one
    span never overlap: they run one after another)."""
    return s.dur - sum(c.dur for c in kids.get(s.id, ()))


def descendants(root_ids: set, spans: list) -> set:
    """Ids of the given spans and every span nested below them."""
    out = set(root_ids)
    for s in spans:  # spans are recorded parent-first
        if s.parent in out:
            out.add(s.id)
    return out


# -------------------------------------------------------------- event log

#: mapInArrow UDF (by function name in the plan) -> layer that owns it
UDF_LAYER = {
    "encode_stream": "codec.encode",
    "decode_rows": "codec.decode",
    "stream": "pack",
}
_UDF_RE = re.compile(r"^\S+ (\w+)\(")


def _walk_plan(node: dict, accum: dict) -> None:
    m = _UDF_RE.match(node.get("simpleString", ""))
    layer = UDF_LAYER.get(m.group(1)) if m else None
    if layer and node.get("nodeName") == "MapInArrow":
        for metric in node.get("metrics", ()):
            accum[metric["accumulatorId"]] = (
                layer, metric["name"], metric["metricType"]
            )
    for c in node.get("children", ()):
        _walk_plan(c, accum)


_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class GroupTotals:
    """TaskEnd sums for the jobs of one span."""

    jobs: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (layer, SQL metric name) -> value in seconds or bytes
    python: dict = field(default_factory=lambda: defaultdict(float))

    def add(self, other: "GroupTotals") -> None:
        for k in ("jobs", "cpu_s", "gc_s", "input_bytes", "output_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.python.items():
            self.python[k] += v


def reduce_event_log(path: str) -> dict:
    """{job group: GroupTotals} from an uncompressed, non-rolling event
    log.  Jobs outside any span land under the key ``None``."""
    stage_group: dict = {}
    accum: dict = {}
    out: dict = defaultdict(GroupTotals)
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get(GROUP_KEY)
                out[g].jobs += 1
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                g = (e.get("Properties") or {}).get(GROUP_KEY)
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            elif ev.endswith(("SQLExecutionStart",
                              "SQLAdaptiveExecutionUpdate")):
                _walk_plan(e["sparkPlanInfo"], accum)
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                t = out[g]
                tm = e.get("Task Metrics") or {}
                t.cpu_s += tm.get("Executor CPU Time", 0) * 1e-9
                t.gc_s += tm.get("JVM GC Time", 0) * 1e-3
                t.input_bytes += tm.get("Input Metrics", {}).get(
                    "Bytes Read", 0)
                t.output_bytes += tm.get("Output Metrics", {}).get(
                    "Bytes Written", 0)
                t.shuffle_write_bytes += tm.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                t.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                for a in e["Task Info"].get("Accumulables", ()):
                    kind = accum.get(a["ID"])
                    if kind is None or "Update" not in a:
                        continue
                    layer, name, mtype = kind
                    t.python[(layer, name)] += float(a["Update"]) * _SCALE.get(
                        mtype, 1.0)
    return out


def totals_for(ids: set, groups: dict) -> GroupTotals:
    acc = GroupTotals()
    for i in ids:
        if i in groups:
            acc.add(groups[i])
    return acc
