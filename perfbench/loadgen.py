"""Open-loop webhook generator, run as its own process.

Sends the seeded bodies ``first_id .. first_id + n - 1`` to the listener on a
fixed schedule over at most ``--conns`` keep-alive connections. Request
``i`` is due at its scheduled instant whether or not earlier requests have
finished; each is timed from when it was due, so a stall also counts
against the requests queued behind it. Once a request would be sent more
than ``--stop-late`` seconds after it was due, the backlog is growing
without bound: the generator sends nothing more and records the rest of
the schedule as unsent (status 0). Writes one JSON file with, per request,
``[id, due, sent, done, status]`` (``time.monotonic`` seconds, which is
the same clock in every process on Linux) and exits.

    python3 perfbench/loadgen.py --port 8080 --seed 1 --first-id 0 \\
        --schedule 500:2,1000:2 --conns 4 --stop-late 1 --out results.json
"""

from __future__ import annotations

import argparse
import http.client
import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.datagen import webhook_bodies  # noqa: E402

BAD_EVERY = 50


def due_offsets(schedule: list[tuple[float, float]]) -> list[float]:
    """Send instants (seconds after start) for a list of (rate, seconds)
    steps: evenly spaced at each step's rate."""
    out, t = [], 0.0
    for rate, dur in schedule:
        n = int(round(rate * dur))
        out.extend(t + k / rate for k in range(n))
        t += dur
    return out


def parse_schedule(text: str) -> list[tuple[float, float]]:
    return [tuple(float(x) for x in step.split(":")) for step in text.split(",")]


def run(port: int, bodies: list[bytes], first_id: int, offsets: list[float],
        conns: int, start: float, stop_late: float) -> list[list]:
    results = [[first_id + k, start + off, None, None, 0] for k, off in enumerate(offsets)]
    lock = threading.Lock()
    nxt = [0]

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        while True:
            with lock:
                k = nxt[0]
                nxt[0] += 1
                if k < len(offsets) and time.monotonic() - (start + offsets[k]) > stop_late:
                    nxt[0] = k = len(offsets)
            if k >= len(offsets):
                break
            due = start + offsets[k]
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            body = bodies[first_id + k]
            sent = time.monotonic()
            try:
                conn.request("POST", "/", body=body,
                             headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                status = -1
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            results[k] = [first_id + k, due, sent, time.monotonic(), status]
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-id", type=int, required=True)
    ap.add_argument("--schedule", required=True, help="rate:seconds,rate:seconds,...")
    ap.add_argument("--conns", type=int, required=True)
    ap.add_argument("--stop-late", type=float, required=True,
                    help="stop sending once a request is this many seconds overdue")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    offsets = due_offsets(parse_schedule(a.schedule))
    bodies = webhook_bodies(a.seed, a.first_id + len(offsets), BAD_EVERY)
    start = time.monotonic() + 0.2  # let every connection open first
    results = run(a.port, bodies, a.first_id, offsets, a.conns, start, a.stop_late)
    with open(a.out, "w") as f:
        json.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
