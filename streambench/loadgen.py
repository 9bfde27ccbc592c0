"""Open-loop chunk generator for the stt_live workload.

Run as its own single-threaded process:

    python3 -m streambench.loadgen --seed N --slots 25 --seconds S --qdir DIR

It builds the seeded schedule, prints ``ready``, waits for a line
``go <t0>`` on stdin (t0 in wall-clock seconds), then appends every
chunk to its priority log at t0 + its due time, stamping
``enqueued_at`` with that due time. A late generator never drops or
delays the schedule: chunks that fell due while it wrote are written
at once. At the end it prints one JSON line: chunks sent and each
chunk's lateness in milliseconds."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from streambench.gen import (
    PRIORITIES,
    envelope,
    live_sessions,
    payload_json,
    sent_chunks,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--qdir", required=True)
    a = ap.parse_args()

    chunks = sent_chunks(live_sessions(a.seed, a.slots, a.seconds), a.seconds)
    payloads = [payload_json(s, seq) for _, s, seq in chunks]
    os.makedirs(a.qdir, exist_ok=True)
    fds = {
        p: os.open(os.path.join(a.qdir, f"{p}.jsonl"),
                   os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        for p in PRIORITIES
    }
    print("ready", flush=True)
    t0 = float(sys.stdin.readline().split()[1])

    late_ms: list[float] = []
    i = 0
    try:
        while i < len(chunks):
            now = time.time()
            due = t0 + chunks[i][0]
            if now < due:
                time.sleep(due - now)
                continue
            bufs: dict[str, list[str]] = {p: [] for p in PRIORITIES}
            j = i
            while j < len(chunks) and t0 + chunks[j][0] <= now:
                d, s, seq = chunks[j]
                bufs[s.priority].append(envelope(s, seq, payloads[j], t0 + d))
                j += 1
            for p, lines in bufs.items():
                if lines:
                    os.write(fds[p], "".join(lines).encode())
            written = time.time()
            late_ms.extend((written - t0 - chunks[k][0]) * 1000.0
                           for k in range(i, j))
            i = j
    finally:
        for fd in fds.values():
            os.close(fd)
    print(json.dumps({"sent": len(chunks), "late_ms": late_ms}), flush=True)


if __name__ == "__main__":
    main()
