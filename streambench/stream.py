"""The stt_live workload: an open-loop speech-chunk load through the
flagship stream, priority-queue source -> sessionizer -> result store.

25 concurrent sessions each send one 100 ms chunk every 100 ms
(250 chunks/s) from a separate generator process. After a warm-up
period, segments whose last chunk falls due inside the measured
window give the latency sample: due time of that chunk to the sink's
write stamp. The result store must equal ``sessionize_batch_fn`` over
exactly the chunks sent."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

from streambench import core
from streambench.gen import CHUNK_MS, live_sessions, sent_chunks

SLOTS = 25            # concurrent sessions -> 250 chunks/s
WARM_S = 4.0          # load before the measured window opens
TTL_S = 3600.0        # result-store TTL; write stamp = expires_at - TTL
LATE_LIMIT_MS = 100.0  # generator p99 lateness above this voids a run
DRAIN_TIMEOUT_S = 90.0


class RunInvalid(RuntimeError):
    """The run broke a validity guard; its numbers are not reported."""


def _ts(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def batch_rows(progress: list[dict]) -> list[dict]:
    """One flat record per micro-batch from the progress JSON."""
    out = []
    for p in progress:
        d = p.get("durationMs", {})
        ops = p.get("stateOperators") or []
        src = (p.get("sources") or [{}])[0]
        out.append({
            "start": _ts(p["timestamp"]),
            "trigger_s": d.get("triggerExecution", 0) / 1000.0,
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "rows": p.get("numInputRows", 0),
            "end_total": core.offsets_total(src.get("endOffset")),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        })
    return out


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress record as parsed JSON."""

    def __init__(self):
        self.items: list[dict] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        rec = json.loads(event.progress.json)
        with self.lock:
            self.items.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.items)


def expected_segments(sessions, n_sent: dict[str, int]):
    """Run ``sessionize_batch_fn`` over exactly the chunks sent.

    Returns ({job_id: payload}, {job_id: due time of the segment's
    last chunk}, seconds the single-threaded core took). A session
    whose final chunk was not sent keeps its buffer in the stream, so
    the batch function's closing flush is not expected from it."""
    from streamprocess_spark.streaming.sessionizer import (
        DEFAULT_CONFIG,
        sessionize_batch_fn,
    )

    fn = sessionize_batch_fn(DEFAULT_CONFIG)
    want, due = {}, {}
    t = time.perf_counter()
    for s in sessions:
        n = n_sent.get(s.session_id, 0)
        if n == 0:
            continue
        pdf = pd.DataFrame({
            "session_id": s.session_id,
            "seq": np.arange(n, dtype=np.int64),
            "offset_ms": np.arange(n, dtype=np.int64) * CHUNK_MS,
            "samples": list(s.samples[:n]),
            "is_final": np.arange(n) == s.n_chunks - 1,
        })
        out = fn((s.session_id,), pdf)
        if n < s.n_chunks and len(out) and out["trigger"].iloc[-1] == "final":
            out = out.iloc[:-1]
        for r in out.itertuples(index=False):
            job_id = f"{s.session_id}_{r.start_offset_ms}"
            if job_id in want:
                raise RuntimeError(f"segment key {job_id} is not unique")
            want[job_id] = {"n_samples": int(r.n_samples),
                            "segment_idx": int(r.segment_idx),
                            "trigger": r.trigger}
            due[job_id] = s.due_s(
                core.trigger_chunk_seq(int(r.end_offset_ms), CHUNK_MS))
    return want, due, time.perf_counter() - t


def read_store(rdir: str) -> dict[str, tuple[dict, float]]:
    """{job_id: (payload, expires_at)} of every result file."""
    out = {}
    for fn in os.listdir(rdir):
        if fn.startswith("result-") and fn.endswith(".json"):
            with open(os.path.join(rdir, fn)) as f:
                doc = json.load(f)
            out[doc["job_id"]] = (json.loads(doc["payload"]["payload"]),
                                  doc["expires_at"])
    return out


def committed_rows(rdir: str) -> int:
    """Rows the sink reports written, summed over its commit markers."""
    mdir = os.path.join(rdir, "_commits")
    if not os.path.isdir(mdir):
        return 0
    total = 0
    for fn in os.listdir(mdir):
        try:
            with open(os.path.join(mdir, fn)) as f:
                total += json.load(f)["n_written"]
        except (OSError, ValueError):
            continue  # marker being written; read it next poll
    return total


def start_query(spark, qdir: str, rdir: str, ckpt: str,
                trace_dir: str | None):
    """The flagship pipeline as bench.py's flagship leg wires it; with
    ``trace_dir`` the source, the sessionizer function and the sink
    are the traced wrappers, in the same plan."""
    from pyspark.sql import functions as F

    from streamprocess_spark.io.queue_source import register_queue_source
    from streamprocess_spark.io.result_sink import register_result_sink
    from streamprocess_spark.streaming import sessionizer as sz

    fmt_in, fmt_out = "priority_queue", "result_store"
    if trace_dir is None:
        register_queue_source(spark)
        register_result_sink(spark)
    else:
        from pyspark import cloudpickle

        from streambench import traced
        from streamprocess_spark.session import ensure_workers_can_import

        cloudpickle.register_pickle_by_value(traced)
        ensure_workers_can_import(spark)
        spark.dataSource.register(traced.TracedQueueSource)
        spark.dataSource.register(traced.TracedResultStore)
        fmt_in, fmt_out = "priority_queue_traced", "result_store_traced"

    reader = spark.readStream.format(fmt_in).option("path", qdir)
    if trace_dir is not None:
        reader = reader.option("trace_dir", trace_dir)
    payload_schema = (
        "seq long, offset_ms long, is_final boolean, samples array<float>"
    )
    chunk_stream = (
        reader.load().filter(F.col("type") == "stt_chunk")
        .select(
            F.split(F.col("job_id"), "-")[0].alias("session_id"),
            F.from_json("payload", payload_schema).alias("p"),
        )
        .select("session_id", "p.seq", "p.offset_ms", "p.is_final", "p.samples")
    )
    # traced: sessionize_stream itself builds the plan, with the function
    # it looks up at call time wrapped for the duration of the call
    orig_fn = sz.sessionize_stream_fn
    if trace_dir is not None:
        from streambench.traced import traced_state_fn

        sz.sessionize_stream_fn = lambda cfg, idle_ms: traced_state_fn(
            orig_fn(cfg, idle_ms), trace_dir)
    try:
        segments = sz.sessionize_stream(chunk_stream, sz.DEFAULT_CONFIG)
    finally:
        sz.sessionize_stream_fn = orig_fn
    out = segments.select(
        F.concat_ws("_", "session_id", "start_offset_ms").alias("job_id"),
        F.to_json(F.struct("segment_idx", "n_samples", "trigger")).alias(
            "payload"),
    )
    writer = (
        out.writeStream.format(fmt_out)
        .option("path", rdir)
        .option("ttl_s", str(TTL_S))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
    )
    if trace_dir is not None:
        writer = writer.option("trace_dir", trace_dir)
    return writer.start()


def wait_for(pred, timeout_s: float, what: str, poll_s: float = 0.05):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        v = pred()
        if v:
            return v
        time.sleep(poll_s)
    raise RunInvalid(f"timed out after {timeout_s:.0f} s waiting for {what}")


def run_live(ctx) -> dict:
    total_s = WARM_S + ctx.seconds
    t_in = time.time()
    qdir, rdir, ckpt = (ctx.work(d) for d in ("queue", "results", "ckpt"))
    gen = subprocess.Popen(
        [sys.executable, "-m", "streambench.loadgen", "--seed", str(ctx.seed),
         "--slots", str(SLOTS), "--seconds", str(total_s), "--qdir", qdir],
        cwd=ctx.root, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        return _live(ctx, gen, t_in, total_s, qdir, rdir, ckpt)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()


def _live(ctx, gen, t_in, total_s, qdir, rdir, ckpt) -> dict:
    sessions = live_sessions(ctx.seed, SLOTS, total_s)
    chunks = sent_chunks(sessions, total_s)
    n_sent: dict[str, int] = {}
    for _, s, _seq in chunks:
        n_sent[s.session_id] = n_sent.get(s.session_id, 0) + 1
    want, due, core_s = expected_segments(sessions, n_sent)
    if gen.stdout.readline().strip() != "ready":
        raise RuntimeError("load generator failed to start")
    inputs_s = time.time() - t_in

    spark = ctx.spark()
    t_session = time.time()
    log = ProgressLog()
    spark.streams.addListener(log)
    trace_dir = ctx.work("trace") if ctx.trace else None
    sampler = ctx.rss_sampler(exclude={gen.pid}) if ctx.trace else None
    query = start_query(spark, qdir, rdir, ckpt, trace_dir)
    try:
        first = wait_for(lambda: log.snapshot()[:1], 180.0, "first trigger")[0]
        rows0 = batch_rows([first])[0]
        t_first = rows0["start"] + rows0["trigger_s"]

        t0 = time.time() + 0.2
        gen.stdin.write(f"go {t0!r}\n")
        gen.stdin.flush()
        gen_out = json.loads(gen.stdout.readline())
        try:
            wait_for(lambda: committed_rows(rdir) >= len(want),
                     DRAIN_TIMEOUT_S, "the stream to drain")
        except RunInvalid as exc:  # what never arrived counts as missing
            print(f"# {exc}", file=sys.stderr)
    finally:
        # every expected result is in the store (or never will be), so
        # the trigger in flight, an empty timeout batch, is abandoned
        query.stop()
        if sampler:
            sampler.stop()

    # -- correctness -------------------------------------------------------
    store = read_store(rdir)
    diff = core.diff_keyed(want, {k: v[0] for k, v in store.items()})
    failed = diff["missing"] + diff["extra"] + diff["different"]
    if failed:
        print(f"# result store differs from sessionize_batch_fn: {diff}",
              file=sys.stderr)

    # -- validity guards ---------------------------------------------------
    w0, w1 = t0 + WARM_S, t0 + total_s
    late = gen_out["late_ms"]
    late_p99 = core.percentile(late, 0.99)
    if late_p99 > LATE_LIMIT_MS:
        raise RunInvalid(f"generator p99 lateness {late_p99:.1f} ms "
                         f"> {LATE_LIMIT_MS} ms")
    dues = np.array([t0 + c[0] for c in chunks])

    def sent_by(t):
        return int(np.searchsorted(dues, t, side="right"))

    batches = batch_rows(log.snapshot())
    in_win = [b for b in batches if w0 <= b["start"] < w1]
    lags = [lag for _, lag in core.backlog(
        [(b["start"], b["trigger_s"], b["end_total"]) for b in in_win], sent_by)]
    if core.backlog_grows(lags, slack=SLOTS * 10):
        raise RunInvalid(f"backlog grows over the run: {lags}")

    # -- end-to-end metrics --------------------------------------------------
    lat = [core.segment_latency_ms(t0 + due[k], store[k][1], TTL_S)
           for k in want if k in store and w0 <= t0 + due[k] < w1]
    if len(lat) < core.min_samples(0.99):
        raise RunInvalid(f"{len(lat)} segments in the window; the p99 needs "
                         f"{core.min_samples(0.99)}")
    setup_s = t_first - ctx.proc_start - inputs_s
    e2e = {
        "latency_ms": core.percentile(lat, 0.5),
        "latency_tail_ms": core.percentile(lat, 0.99),
        "setup_s": setup_s,
    }
    print(f"# stt_live: {len(lat)} segments in window, {len(chunks)} chunks "
          f"sent, {len(in_win)} batches, lag max {max(lags, default=0)}, "
          f"late p99 {late_p99:.1f} ms", file=sys.stderr)
    result = {"attempted": len(want) + diff["extra"], "failed": failed,
              "e2e": e2e}
    if not ctx.trace:
        return result

    from streambench import traced

    spans = traced.read_spans(trace_dir)
    layers = stream_layers(spans, in_win, lags, w0, w1)
    layers.update({
        "queue_source.log_bytes_end": sum(
            os.path.getsize(os.path.join(qdir, f)) for f in os.listdir(qdir)),
        "sessionizer.core_chunks_per_s": len(chunks) / core_s,
        "setup.session_s": t_session - ctx.proc_start - inputs_s,
        "setup.first_trigger_s": setup_s,
        "setup.warmup_s": w0 - t_first,
        "setup.inputs_s": inputs_s,
        "gen.late_ms_p99": late_p99,
        "gen.chunks_sent": gen_out["sent"],
        "mem.peak_rss_mb": sampler.peak_mb,
    })
    result["layers"] = layers
    return result


def stream_layers(spans, batches, lags, w0, w1) -> dict:
    """Per-layer metrics of the streaming layers over the batches of
    the measured window, plus the coverage of trigger wall time by the
    layers' self time."""
    def of(layer):
        return [s for s in spans if s["layer"] == layer and w0 <= s["t0"] < w1]

    def self_s(ss):
        return sum(b - a for s in ss for a, b in s["self"])

    def per_krow(ss, key="rows"):
        rows = sum(s[key] for s in ss)
        return 1000.0 * self_s(ss) / (rows / 1000.0) if rows else 0.0

    busy = [b for b in batches if b["rows"] > 0]
    reads, udfs, writes = (of("queue_source.read"), of("sessionizer.udf"),
                           of("result_sink.write"))
    out = {
        "microbatch.trigger_ms_p50": core.median(b["trigger_s"] * 1000 for b in batches),
        "microbatch.add_batch_ms_p50": core.median(b["add_batch_ms"] for b in batches),
        "microbatch.query_planning_ms_p50": core.median(
            b["query_planning_ms"] for b in batches),
        "microbatch.wal_commit_ms_p50": core.median(b["wal_commit_ms"] for b in batches),
        "microbatch.commit_offsets_ms_p50": core.median(
            b["commit_offsets_ms"] for b in batches),
        "microbatch.batches": len(batches),
        "microbatch.rows_per_batch_p50": core.median(b["rows"] for b in busy),
        "queue_source.latest_offset_ms_p50": core.median(
            (s["t1"] - s["t0"]) * 1000 for s in of("queue_source.latest_offset")),
        "queue_source.read_ms_per_krow": per_krow(reads),
        "queue_source.partitions_per_batch_p50": core.median(
            s["n"] for s in of("queue_source.partitions")),
        "queue_source.rows_read": sum(s["rows"] for s in reads),
        "queue_source.lag_chunks_max": max(lags, default=0),
        "sessionizer.udf_ms_per_kchunk": per_krow(udfs, "rows_in"),
        "sessionizer.state_commit_ms_p50": core.median(
            b["state_commit_ms"] for b in batches),
        "sessionizer.groups_per_batch_p50": core.median(
            sum(1 for s in udfs if b["start"] <= s["t0"] < b["start"] + b["trigger_s"])
            for b in busy),
        "sessionizer.segments_out": sum(s["rows"] for s in udfs),
        "sessionizer.state_rows_max": max((b["state_rows"] for b in batches), default=0),
        "sessionizer.state_memory_bytes_max": max(
            (b["state_bytes"] for b in batches), default=0),
        "result_sink.write_ms_per_krow": per_krow(writes),
        "result_sink.commit_ms_p50": core.median(
            (s["t1"] - s["t0"]) * 1000 for s in of("result_sink.commit")),
        "result_sink.rows_written": sum(s["rows"] for s in writes),
        "result_sink.aborted_batches": len([s for s in spans
                                            if s["layer"] == "result_sink.abort"]),
    }
    # coverage: per batch, the union of every layer's self intervals
    # inside the trigger, plus the engine's own phases no span sees
    intervals = [iv for s in spans for iv in s["self"]]
    wall = covered = 0.0
    for b in batches:
        lo, hi = b["start"], b["start"] + b["trigger_s"]
        phases = (b["query_planning_ms"] + b["wal_commit_ms"]
                  + b["commit_offsets_ms"]) / 1000.0
        wall += b["trigger_s"]
        covered += min(b["trigger_s"],
                       core.union_seconds(core.clip(intervals, lo, hi)) + phases)
    out["trace.coverage"] = covered / wall if wall else 0.0
    return out
