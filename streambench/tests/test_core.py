"""Tests of the benchmark's pure code. Run from the repository root:

    python3 -m pytest streambench/tests -q
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pytest

from streambench import core, gen
from streambench.traced import _self_intervals


# -- percentile ---------------------------------------------------------------

def test_percentile_interpolates():
    assert core.percentile([3, 1, 2], 0.5) == 2
    assert core.percentile(range(101), 0.9) == pytest.approx(90.0)
    assert core.percentile([1.0, 2.0], 0.5) == 1.5


def test_percentile_refuses_unsupported_tail():
    with pytest.raises(ValueError, match="needs 10 samples beyond"):
        core.percentile(range(999), 0.99)
    assert core.percentile(range(1000), 0.99) == pytest.approx(989.01)
    with pytest.raises(ValueError):
        core.percentile(range(99), 0.9)
    with pytest.raises(ValueError):
        core.percentile(range(50), 0.1)  # lower tails too
    with pytest.raises(ValueError):
        core.percentile([], 0.5)


def test_min_samples_is_where_percentile_starts_accepting():
    for q in (0.5, 0.9, 0.99, 0.1):
        n = core.min_samples(q)
        core.percentile(range(n), q)
        if n > 1:
            with pytest.raises(ValueError):
                core.percentile(range(n - 1), q)
    assert core.min_samples(0.99) == 1000


def test_median_of_unused_layer_is_zero():
    assert core.median([]) == 0.0
    assert core.median([4, 1, 3]) == 3


# -- latency derivation ---------------------------------------------------------

def test_segment_latency_from_due_time_and_sink_stamp():
    # the sink stamps expires_at = write time + ttl
    assert core.segment_latency_ms(100.0, 3702.5, 3600.0) == pytest.approx(2500.0)


def test_segment_due_time_is_that_of_the_chunk_that_emitted_it():
    """Feeding a session chunk by chunk, each segment first appears
    after the chunk whose due time expected_segments gives it, so
    trigger_chunk_seq names the chunk whose arrival emitted it."""
    from streambench.stream import expected_segments

    s = gen.live_sessions(seed=7, slots=1, seconds=1.0)[0]
    seen: set[str] = set()
    for n in range(1, s.n_chunks + 1):
        want, due, _ = expected_segments([s], {s.session_id: n})
        for key in set(want) - seen:
            assert due[key] == s.due_s(n - 1), (key, n)
        seen |= set(want)
    assert len(seen) > 5


def test_expected_segments_keep_unfinished_buffers():
    from streambench.stream import expected_segments

    sessions = gen.live_sessions(seed=3, slots=2, seconds=3.0)
    s = sessions[0]
    full, _, _ = expected_segments([s], {s.session_id: s.n_chunks})
    cut, due, _ = expected_segments([s], {s.session_id: 20})
    assert [v["trigger"] for v in full.values()][-1] == "final"
    assert "final" not in {v["trigger"] for v in cut.values()}
    assert set(cut) < set(full)
    assert max(due.values()) <= s.due_s(19)


# -- backlog --------------------------------------------------------------------

def test_backlog_is_sent_minus_read_at_batch_end():
    def sent_by(t):
        return int(t * 250)

    lags = core.backlog([(0.0, 2.0, 400), (2.0, 2.0, 900)], sent_by)
    assert lags == [(2.0, 100), (4.0, 100)]
    assert core.offsets_total('{"realtime": 3, "low": 4}') == 7


def test_backlog_growth_detection():
    assert not core.backlog_grows([100, 300, 200, 250, 310, 280], slack=250)
    assert core.backlog_grows([100, 200, 300, 900, 1500, 2100], slack=250)
    assert not core.backlog_grows([5, 9000], slack=0)  # too few batches


# -- intervals ------------------------------------------------------------------

def test_union_and_clip():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (6.0, 6.0)]
    assert core.union_seconds(iv) == 4.0
    assert core.union_seconds(core.clip(iv, 1.5, 5.5)) == 2.0


def test_self_intervals_exclude_upstream_waits():
    assert _self_intervals(0.0, 10.0, [(1.0, 2.0), (5.0, 7.0)]) == [
        (0.0, 1.0), (2.0, 5.0), (7.0, 10.0)]
    assert _self_intervals(0.0, 1.0, [(0.0, 1.0)]) == []


# -- oracle diffs ---------------------------------------------------------------

def test_diff_frames_ignores_row_and_column_order():
    exp = (["a", "b"], [(1, 2.5), (2, float("nan"))])
    act = (["b", "a"], [(float("nan"), 2), (2.5, 1)])
    assert core.diff_frames(*exp, *act) == []


def test_diff_frames_reports_differences():
    cols = ["k", "v"]
    assert core.diff_frames(cols, [(1, 1.0)], cols, [(1, 1.0000000001)])
    assert core.diff_frames(cols, [(1, 4)], cols, [(1, 4.0)])  # int vs float
    assert "row count" in core.diff_frames(cols, [(1, 1)], cols, [])[0]
    assert "columns" in core.diff_frames(cols, [], ["k"], [])[0]


def test_diff_frames_reads_spark_utc_stamps_as_naive():
    naive = datetime(2024, 1, 1, 12, 0, 0, 5)
    aware = naive.replace(tzinfo=timezone.utc)
    assert core.diff_frames(["t"], [(naive,)], ["t"], [(aware,)]) == []


def test_diff_keyed_counts_missing_extra_and_different():
    d = core.diff_keyed({"a": 1, "b": 2, "c": 3}, {"a": 1, "b": 5, "x": 0})
    assert (d["missing"], d["extra"], d["different"]) == (1, 1, 1)


# -- generators -----------------------------------------------------------------

def test_live_schedule_is_deterministic():
    a = gen.live_sessions(5, 25, 12.0)
    b = gen.live_sessions(5, 25, 12.0)
    c = gen.live_sessions(6, 25, 12.0)
    assert [(s.session_id, s.priority, s.first_due_s) for s in a] == [
        (s.session_id, s.priority, s.first_due_s) for s in b]
    assert all(np.array_equal(x.samples, y.samples) for x, y in zip(a, b))
    assert not all(np.array_equal(x.samples, y.samples) for x, y in zip(a, c))
    ca, cb = gen.sent_chunks(a, 12.0), gen.sent_chunks(b, 12.0)
    assert [(d, s.session_id, q) for d, s, q in ca] == [
        (d, s.session_id, q) for d, s, q in cb]
    assert [gen.payload_json(s, q) for _, s, q in ca[:50]] == [
        gen.payload_json(s, q) for _, s, q in cb[:50]]


def test_live_schedule_shape():
    sessions = gen.live_sessions(1, 25, 10.0)
    chunks = gen.sent_chunks(sessions, 10.0)
    assert len(chunks) == 25 * 100  # 25 slots x 10 chunks/s x 10 s
    assert all(gen.MIN_CHUNKS <= s.n_chunks <= gen.MAX_CHUNKS for s in sessions)
    assert {s.priority for s in sessions} == set(gen.PRIORITIES)
    silent = np.mean([not s.samples[q].any() for _, s, q in chunks])
    assert 0.15 < silent < 0.25
    dues = [d for d, _, _ in chunks]
    assert dues == sorted(dues) and dues[-1] < 10.0


def test_envelope_is_enqueue_job_json():
    import json

    s = gen.live_sessions(2, 1, 1.0)[0]
    line = gen.envelope(s, 3, gen.payload_json(s, 3), 12.5)
    job = json.loads(line)
    assert line.endswith("\n") and line == json.dumps(job, sort_keys=True) + "\n"
    assert job["job_id"] == f"{s.session_id}-3" and job["enqueued_at"] == 12.5
    assert np.array_equal(np.float32(job["payload"]["samples"]), s.samples[3])


def test_tables_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    gen.make_tables(9, str(tmp_path / "a"))
    gen.make_tables(9, str(tmp_path / "b"))
    for name, rows in gen.SF01_ROWS.items():
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.num_rows == rows
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
