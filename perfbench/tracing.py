"""Spans and Spark counters for the traced run.

Spans (name, start, end, parent, run id, attributes) are kept in memory
and written out once, when the run ends.  Spans are recorded only in the
benchmark's own files: around the benchmark's calls into each layer and,
through ``instrument_table``, around ``LakeTable.merge_into`` and
``LakeTable.maintain``, which the replay drivers call.  No file of
``mysql_binlog_spark`` is edited.

Each span also carries the change of the Spark application's counters
over its interval, read from the status store (works with the UI off).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# Executor-summary counters summed over executors, plus the job count.
COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_bytes", "gc_ms")


def spark_counters(spark, settle: bool) -> dict:
    """Cumulative application counters from the status store.  With
    ``settle`` it first waits for the listener bus to drain, so the
    counters include every job that already ran."""
    jsc = spark.sparkContext._jsc.sc()
    if settle:
        jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    execs = store.executorList(True)
    for i in range(execs.size()):
        e = execs.apply(i)
        out["tasks"] += e.totalTasks()
        out["failed_tasks"] += e.failedTasks()
        out["shuffle_read_bytes"] += e.totalShuffleRead()
        out["shuffle_write_bytes"] += e.totalShuffleWrite()
        out["input_bytes"] += e.totalInputBytes()
        out["gc_ms"] += e.totalGCTime()
    out["jobs"] = store.jobsList(None).size()
    return out


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one run.

    The benchmark is one closed-loop client, but ``replay_stream`` applies
    its batches on Spark's stream thread, so the open-span stack is
    shared across threads under a lock: a span opened on the stream
    thread becomes the child of the benchmark's open span."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, settle: bool = True, **attrs):
        """Record a span.  ``settle=False`` skips waiting for the listener
        bus, for spans that run while other jobs may be running (the
        replay prefetch): waiting there would stall the span on unrelated
        events, and its Spark counters are then approximate."""
        before = spark_counters(self.spark, settle)
        with self._lock:
            parent = self._stack[-1].span_id if self._stack else None
            s = Span(len(self.spans), name, parent, time.perf_counter(),
                     attrs=dict(attrs))
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                self._stack.remove(s)
            after = spark_counters(self.spark, settle)
            s.attrs.update(
                {f"spark.{k}": after[k] - before[k] for k in COUNTERS})

    def current(self) -> Span | None:
        with self._lock:
            return self._stack[-1] if self._stack else None

    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def children(self, s: Span, name: str) -> list[Span]:
        return [c for c in self.spans if c.parent == s.span_id and c.name == name]

    def self_seconds(self, s: Span, child: str) -> float:
        """Span duration minus the part its ``child`` spans cover (they
        run one after another, so their durations add up)."""
        return s.seconds - sum(c.seconds for c in self.children(s, child))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [{"run_id": self.run_id, "id": s.span_id, "name": s.name,
                  "parent": s.parent, "start": s.start, "end": s.end,
                  **s.attrs} for s in self.spans],
                f,
            )


def _data_files(table) -> dict[str, int]:
    return {
        f: os.path.getsize(f)
        for f in glob.glob(os.path.join(table.path, "data", "ep=*", "bucket=*",
                                        "*.parquet"))
    }


def _rows(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def instrument_table(tracer: Tracer):
    """Wrap ``LakeTable.merge_into`` and ``LakeTable.maintain`` in spans
    that record what each call wrote and reclaimed, and note on an open
    ``table.read`` span how many base and delta files the snapshot read
    opens.  Returns a function that restores the originals."""
    from mysql_binlog_spark.table import LakeTable

    merge_into, maintain = LakeTable.merge_into, LakeTable.maintain
    snapshot_df = LakeTable.snapshot_df

    def traced_merge(self, spark, updates, epoch_id, *args, **kwargs):
        before = _data_files(self)
        with tracer.span("table.merge_into", settle=False,
                         epoch_id=epoch_id) as s:
            out = merge_into(self, spark, updates, epoch_id, *args, **kwargs)
        new = {f: b for f, b in _data_files(self).items() if f not in before}
        s.attrs.update(
            skipped=bool(out.get("skipped")),
            touched_buckets=out.get("touched_buckets", 0),
            winners=sum(v["rows"] for v in out.get("lineage", {}).values()),
            rows_written=_rows(new),
            bytes_written=sum(new.values()),
        )
        return out

    def traced_maintain(self, spark, *args, **kwargs):
        with tracer.span("table.maintain", settle=False) as s:
            out = maintain(self, spark, *args, **kwargs)
        vac = out.get("vacuum", {})
        s.attrs.update(
            compacted_buckets=len(out.get("compacted_buckets", [])),
            bytes_reclaimed=vac.get("bytes_reclaimed", 0),
        )
        return out

    def traced_snapshot(self, spark, *args, **kwargs):
        s = tracer.current()
        if s is not None and s.name == "table.read":
            deltas = len(self.delta_files())
            s.attrs.update(files=len(self.live_files()) + deltas,
                           delta_files=deltas)
        return snapshot_df(self, spark, *args, **kwargs)

    LakeTable.merge_into, LakeTable.maintain = traced_merge, traced_maintain
    LakeTable.snapshot_df = traced_snapshot

    def restore() -> None:
        LakeTable.merge_into, LakeTable.maintain = merge_into, maintain
        LakeTable.snapshot_df = snapshot_df

    return restore
