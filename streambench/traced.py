"""Traced wrappers around the streaming layers' public classes.

Each wrapper delegates to the program's own class or function and
records one span per call: the layer name, wall start and end, the
self-time intervals (time spent inside the layer, excluding waits on
its upstream iterator), and the rows it handled. Spans run in Spark's
Python worker processes, so each process appends them as JSON lines
to ``<trace_dir>/<pid>.jsonl``; the benchmark reads them after the run.
"""

from __future__ import annotations

import json
import os
import time

from streamprocess_spark.io.queue_source import (
    PriorityQueueDataSource,
    PriorityQueueStreamReader,
)
from streamprocess_spark.io.result_sink import (
    ResultStoreDataSource,
    ResultStoreStreamWriter,
)


def emit(trace_dir: str, layer: str, t0: float, t1: float,
         self_iv: list, rows: int = 0, **extra) -> None:
    rec = {"layer": layer, "t0": t0, "t1": t1, "self": self_iv,
           "rows": rows, **extra}
    with open(os.path.join(trace_dir, f"{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def read_spans(trace_dir: str) -> list[dict]:
    spans = []
    for fn in sorted(os.listdir(trace_dir)):
        if fn.endswith(".jsonl"):
            with open(os.path.join(trace_dir, fn)) as f:
                spans.extend(json.loads(line) for line in f if line.strip())
    return spans


class _Upstream:
    """Iterator wrapper that records when the consumer waits on its
    upstream, so the consumer's self time is the rest of the call."""

    def __init__(self, it, count):
        self.it = iter(it)
        self.count = count
        self.waits: list[tuple[float, float]] = []
        self.rows = 0

    def __iter__(self):
        return self

    def __next__(self):
        t = time.time()
        try:
            item = next(self.it)
        finally:
            self.waits.append((t, time.time()))
        self.rows += self.count(item)
        return item


def _self_intervals(t0: float, t1: float, waits) -> list:
    """[t0, t1] minus the upstream waits, as a list of intervals."""
    out, cur = [], t0
    for a, b in waits:
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if t1 > cur:
        out.append((cur, t1))
    return out


def _timed_generator(trace_dir, layer, gen, count_out, upstream=None):
    """Drive ``gen`` and record the time spent inside its next() calls
    as self time (minus upstream waits, when given)."""
    t_first, iv, rows = None, [], 0
    while True:
        t = time.time()
        t_first = t_first if t_first is not None else t
        n_waits = len(upstream.waits) if upstream else 0
        try:
            item = next(gen)
        except StopIteration:
            iv.extend(_self_intervals(
                t, time.time(), upstream.waits[n_waits:] if upstream else ()))
            break
        iv.extend(_self_intervals(
            t, time.time(), upstream.waits[n_waits:] if upstream else ()))
        rows += count_out(item)
        yield item
    emit(trace_dir, layer, t_first, time.time(), iv, rows,
         rows_in=upstream.rows if upstream else 0)


class TracedStreamReader(PriorityQueueStreamReader):
    def __init__(self, options):
        super().__init__(options)
        self.trace_dir = options["trace_dir"]

    def latestOffset(self) -> dict:
        t0 = time.time()
        out = super().latestOffset()
        t1 = time.time()
        emit(self.trace_dir, "queue_source.latest_offset", t0, t1, [(t0, t1)])
        return out

    def partitions(self, start: dict, end: dict):
        t0 = time.time()
        parts = super().partitions(start, end)
        t1 = time.time()
        emit(self.trace_dir, "queue_source.partitions", t0, t1, [(t0, t1)],
             n=len(parts))
        return parts

    def read(self, partition):
        yield from _timed_generator(
            self.trace_dir, "queue_source.read", super().read(partition),
            lambda rb: rb.num_rows)


class TracedQueueSource(PriorityQueueDataSource):
    @classmethod
    def name(cls) -> str:
        return "priority_queue_traced"

    def streamReader(self, schema):
        return TracedStreamReader(self.options)


class TracedStreamWriter(ResultStoreStreamWriter):
    def __init__(self, options):
        super().__init__(options)
        self.trace_dir = options["trace_dir"]

    def write(self, iterator):
        up = _Upstream(iterator, lambda rb: rb.num_rows)
        t0 = time.time()
        msg = super().write(up)
        t1 = time.time()
        emit(self.trace_dir, "result_sink.write", t0, t1,
             _self_intervals(t0, t1, up.waits), msg.n_written)
        return msg

    def commit(self, messages, batchId: int) -> None:
        t0 = time.time()
        super().commit(messages, batchId)
        t1 = time.time()
        emit(self.trace_dir, "result_sink.commit", t0, t1, [(t0, t1)],
             batch=batchId)

    def abort(self, messages, batchId: int) -> None:
        t0 = time.time()
        super().abort(messages, batchId)
        t1 = time.time()
        emit(self.trace_dir, "result_sink.abort", t0, t1, [(t0, t1)],
             batch=batchId)


class TracedResultStore(ResultStoreDataSource):
    @classmethod
    def name(cls) -> str:
        return "result_store_traced"

    def streamWriter(self, schema, overwrite: bool):
        return TracedStreamWriter(self.options)


def traced_state_fn(fn, trace_dir: str):
    """Wrap the function ``sessionize_stream_fn`` returns: one span per
    group call, self time excluding waits on the incoming pandas
    frames, chunks in and segments out."""

    def wrapped(key, pdfs, state):
        up = _Upstream(pdfs, len)
        yield from _timed_generator(
            trace_dir, "sessionizer.udf", fn(key, up, state), len, up)

    return wrapped
