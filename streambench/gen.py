"""Seeded input generators. The same seed gives the same inputs.

Speech chunks follow ``chunks_from_events``: 160 float32 samples of a
value-scaled 5-cycle sine per 100 ms chunk, about a fifth of them
silent (the events table's 'error' share) so VAD endpoints fire, a
final chunk closing each session, and four priorities. Headline
tables have the FIXTURES.md section A schemas at sf0.1 row counts."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

PRIORITIES = ("realtime", "high", "normal", "low")
CHUNK_MS = 100
CHUNK_SAMPLES = 160
SILENT_SHARE = 0.2
MIN_CHUNKS, MAX_CHUNKS = 40, 90


@dataclass(frozen=True)
class Session:
    session_id: str
    priority: str
    first_due_s: float   # due time of chunk 0, from the run's start
    samples: np.ndarray  # (n_chunks, CHUNK_SAMPLES) float32

    @property
    def n_chunks(self) -> int:
        return len(self.samples)

    def due_s(self, seq: int) -> float:
        return self.first_due_s + seq * CHUNK_MS / 1000.0


def _sine() -> np.ndarray:
    n = CHUNK_SAMPLES
    return np.sin(np.arange(n, dtype=np.float64) * (2.0 * np.pi * 5.0 / n))


def _session_samples(rng: np.random.Generator, n_chunks: int) -> np.ndarray:
    """chunks_from_events' synthesis: amplitude value/1000 (value as the
    events table draws it, two decimals in [0, 560]), 0 when silent."""
    value = np.round(rng.uniform(0.0, 560.0, n_chunks), 2)
    amp = np.where(rng.random(n_chunks) < SILENT_SHARE, 0.0, value / 1000.0)
    return (amp[:, None] * _sine()[None, :]).astype(np.float32)


def live_sessions(seed: int, slots: int, seconds: float) -> list[Session]:
    """Open-loop session schedule: ``slots`` concurrent sessions, each
    sending one chunk every 100 ms; slot k is phase-shifted by k/slots
    of a chunk period, and a finished session's slot starts the next
    session on the following tick. Sessions run MIN..MAX chunks.
    Returns every session that starts before ``seconds``."""
    rng = np.random.default_rng([seed, 1])
    period = CHUNK_MS / 1000.0
    starts = []
    for slot in range(slots):
        tick = 0
        while tick * period < seconds:
            n = int(rng.integers(MIN_CHUNKS, MAX_CHUNKS + 1))
            starts.append((tick * period + slot * period / slots, slot, n))
            tick += n
    starts.sort()
    out = []
    for i, (t0, _slot, n) in enumerate(starts):
        out.append(Session(
            session_id=str(i), priority=PRIORITIES[i % 4], first_due_s=t0,
            samples=_session_samples(np.random.default_rng([seed, 2, i]), n),
        ))
    return out


def sent_chunks(sessions: list[Session], seconds: float) -> list[tuple]:
    """(due_s, session, seq) of every chunk due before ``seconds``, in
    due order: exactly what an on-time generator has sent by then."""
    out = []
    for s in sessions:
        for seq in range(s.n_chunks):
            due = s.due_s(seq)
            if due >= seconds:
                break
            out.append((due, s, seq))
    out.sort(key=lambda c: c[0])  # stable: ties keep session order
    return out


def payload_json(s: Session, seq: int) -> str:
    return json.dumps({
        "is_final": seq == s.n_chunks - 1,
        "offset_ms": seq * CHUNK_MS,
        "samples": [float(x) for x in s.samples[seq]],
        "seq": seq,
    }, sort_keys=True)


def envelope(s: Session, seq: int, payload: str, enqueued_at: float) -> str:
    """One queue-log line: the job envelope ``enqueue_job`` writes
    (sort_keys JSON), with the payload already encoded."""
    return (
        f'{{"enqueued_at": {enqueued_at!r}, "job_id": "{s.session_id}-{seq}", '
        f'"payload": {payload}, "type": "stt_chunk"}}\n'
    )


# ---------------------------------------------------------------------------
# Headline tables (FIXTURES.md section A, sf0.1 row counts)
# ---------------------------------------------------------------------------

SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
_WORDS = (
    "spark line small fast group customer query row stream the part column "
    "order scan a slow agg key window table merge vector join batch sort "
    "value hash filter big data"
).split()
_PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
_PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000).astype("datetime64[ms]")


def make_tables(seed: int, out_dir: str) -> None:
    """Write the ten headline tables as parquet under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 5])
    n = SF01_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def pick(choices, k):
        return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), k)]

    int32, int64, f64 = pa.int32(), pa.int64(), pa.float64()
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], int32),
    })
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), int32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
        "c_mktsegment": pick(("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                              "BUILDING", "FURNITURE"), k),
    })
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), int32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
    })
    k = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, k),
                                             pick(_PART_NOUN, k))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": pick(("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                        "PROMO"), k),
        "p_size": pa.array(rng.integers(1, 51, k), int32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2), f64),
    })
    k = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), int64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), int64),
        "o_orderstatus": pick(("F", "O", "P"), k),
        "o_totalprice": pa.array(money(1000.0, 500000.0, k), f64),
        "o_orderdate": pa.array(_days(rng, k, "1995-01-01", "2001-08-01"),
                                pa.timestamp("ms")),
        "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"), k),
    })
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), int64),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), int64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), int32),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(float), f64),
        "l_extendedprice": pa.array(money(900.0, 105000.0, k), f64),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0, f64),
        "l_returnflag": pick(("N", "A", "R"), k),
        "l_linestatus": pick(("O", "F"), k),
        "l_shipdate": pa.array(_days(rng, k, "1995-01-02", "2001-11-04"),
                               pa.timestamp("ms")),
    })
    k = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, k))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(k), int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, k), int64),
        "event_type": pick(("signup", "click", "error", "view", "purchase"), k),
        "value": pa.array(money(0.0, 560.0, k), f64),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = []
    for i in range(k):
        if i > 10 and rng.random() < 0.01:  # near-duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 101)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), int64),
        "text": texts,
        "lang": pick(("en", "zh", "de", "es", "fr"), k),
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(t) for t in texts], int64),
    })
    k = n["embeddings"]
    vec = rng.standard_normal((k, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), int32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
