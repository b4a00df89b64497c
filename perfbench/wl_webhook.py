"""webhook_stream: an open loop. A separate generator process POSTs seeded
JSON bodies to ``HttpListenerSource(durable_ack=True, require_json=True)``
on a fixed schedule that steps through a rate ladder. A Structured
Streaming ``message_log`` reader reads the listener's spool and the
two-phase-commit ``MessageLogStreamWriter`` writes each event to the output
stream named by its type. A watcher thread records when each committed
output segment first becomes visible."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

from perfbench import common, datagen
from perfbench.loadgen import BAD_EVERY, due_offsets
from perfbench.stats import median, tail

#: ack and commit latencies are reported at this rate, well below
#: saturation; the reference step lasts the run's ``--seconds``
REFERENCE_RATE = 100
#: the rate ladder that follows: 200/s rising 15% a step up to ~8000/s,
#: each step STEP_S seconds long
LADDER = [round(200 * 1.15**k) for k in range(27)]
STEP_S = 1.0
#: a step is sustained when every request of it was sent, its ack tail is
#: within ACK_LIMIT_MS, and its backlog is not growing: the median ack
#: latency of its last fifth stays within BACKLOG_MS. Offered a rate r
#: above its capacity C, a listener falls behind by (r/C - 1) s a second,
#: so the backlog of a step 15% over capacity passes BACKLOG_MS within
#: the step or the next; a micro-batch stall alone rarely does.
ACK_LIMIT_MS = 250.0
BACKLOG_MS = 100.0
#: ... and the stream keeps up: the commit latency of the step's last tenth
#: stays below this
COMMIT_LIMIT_MS = 3000.0
#: the generator stops once it runs this far behind; the rest of the
#: ladder is recorded as unsent and not sustained
STOP_LATE_S = 0.5
WARMUP = (REFERENCE_RATE, 1.0)  # discarded before the first measured batch
DRAIN_TIMEOUT_S = 30.0
LOADGEN = Path(__file__).resolve().parent / "loadgen.py"


class Watcher(threading.Thread):
    """Polls the output streams and the spool; records when each committed
    segment first appears and samples the spool's segment count."""

    def __init__(self, out_dir: Path, spool_stream: Path, interval: float = 0.02):
        super().__init__(daemon=True)
        self.out_dir, self.spool_stream, self.interval = out_dir, spool_stream, interval
        self.seen: dict[str, float] = {}
        self.spool_samples: list[tuple[float, int]] = []
        self._halt = threading.Event()

    def run(self):
        last_spool = 0.0
        while not self._halt.is_set():
            now = time.monotonic()
            if self.out_dir.exists():
                for d in os.scandir(self.out_dir):
                    if d.is_dir():
                        for f in os.scandir(d.path):
                            if f.name.endswith(".jsonl") and f.path not in self.seen:
                                self.seen[f.path] = now
            # the spool holds a segment per few bodies: count it rarely, so the
            # scan does not compete with the listener in this process
            if now - last_spool > 0.5 and self.spool_stream.exists():
                n = sum(1 for f in os.scandir(self.spool_stream) if f.name.endswith(".jsonl"))
                self.spool_samples.append((time.time(), n))
                last_spool = now
            time.sleep(self.interval)

    def stop(self):
        self._halt.set()
        self.join()


class WebhookStream:
    #: the set-up's warm-up interval already ran the stream's first batches,
    #: so a traced run needs no discarded unit before its two measured ones
    TRACE_DISCARD = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = ctx.work / "webhook"
        self.next_id = 0
        self.sent: list[list] = []  # every request of every phase
        self.query = None
        self.listener = None
        self.watcher = None
        self._ids: dict[str, list[int]] = {}  # committed segment -> event ids

    def prepare_inputs(self) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)

    # --- phases -----------------------------------------------------------

    def _send(self, schedule: list[tuple[float, float]], label: str) -> list[list]:
        """Run the generator process over ``schedule``; returns its records."""
        out = self.dir / f"gen-{label}.json"
        sched = ",".join(f"{r:g}:{d:g}" for r, d in schedule)
        port = self.listener._server.server_address[1]
        proc = subprocess.Popen(
            [sys.executable, str(LOADGEN), "--port", str(port), "--seed", str(self.ctx.seed),
             "--first-id", str(self.next_id), "--schedule", sched,
             "--conns", str(common.NPROC), "--stop-late", str(STOP_LATE_S), "--out", str(out)])
        try:
            rc = proc.wait(timeout=sum(d for _, d in schedule) + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        with open(out) as f:
            recs = json.load(f)
        self.next_id += len(recs)
        self.sent.extend(recs)
        return recs

    def _committed(self) -> dict[int, float]:
        """id -> when its committed segment became visible (first copy)."""
        out = {}
        for path, t in list(self.watcher.seen.items()):
            if path not in self._ids:
                with open(path) as f:
                    self._ids[path] = [json.loads(json.loads(line)["value"])["id"] for line in f]
            for i in self._ids[path]:
                out[i] = min(t, out.get(i, t))
        return out

    def _drain(self, recs: list[list]) -> float:
        """Wait until every 200-acked id of ``recs`` is committed; returns
        the seconds waited."""
        want = {r[0] for r in recs if r[4] == 200}
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < DRAIN_TIMEOUT_S:
            if want <= self._committed().keys():
                break
            time.sleep(0.02)
        return time.perf_counter() - t0

    def setup(self, tracer) -> None:
        from pyspark.sql import functions as F

        from hazelcast_jet_contrib_spark.sources.http_listener import HttpListenerSource
        from hazelcast_jet_contrib_spark.streaming import message_log

        spark = self.ctx.spark
        spool, out = self.dir / "spool", self.dir / "out"
        (spool / "http").mkdir(parents=True, exist_ok=True)
        out.mkdir(parents=True, exist_ok=True)
        self.spool, self.out = spool, out
        with tracer.span("listener.start", "sources.http_listener"):
            self.listener = HttpListenerSource(
                str(spool), stream_name="http", durable_ack=True, require_json=True).start()
        with tracer.span("stream.start", "streaming.message_log"):
            message_log.register(spark)
            events = (spark.readStream.format("message_log").option("path", str(spool)).load()
                      .select(F.get_json_object("value", "$.type").alias("stream"), "value"))
            self.query = (events.writeStream.format("message_log")
                          .option("path", str(out))
                          .option("checkpointLocation", str(self.dir / "checkpoint"))
                          .start())
        self.watcher = Watcher(out, spool / "http")
        self.watcher.start()
        # the stated warm-up interval: sent, committed and then discarded
        warm = self._send([WARMUP], "warm")
        self._drain(warm)

    def measure(self, seconds: float, tracer, label: str, catalyst=None, units=None) -> dict:
        """The reference step for ``seconds``; in a traced run followed by
        the rate ladder, whose figures are per-layer metrics only."""
        schedule = [(REFERENCE_RATE, seconds)]
        if self.ctx.trace:
            schedule += [(rate, STEP_S) for rate in LADDER]
        first_batch = self._last_batch() + 1
        segs0 = self._spool_segments()
        seen0 = len(self.watcher.seen)
        with tracer.span(f"{label}.ladder", "sources.http_listener"):
            recs = self._send(schedule, label)
        with tracer.span(f"{label}.drain", "streaming.message_log"):
            drain_s = self._drain(recs)
        committed = self._committed()
        steps, i = [], 0
        for rate, dur in schedule:
            n = len(due_offsets([(rate, dur)]))
            steps.append((rate, recs[i:i + n]))
            i += n
        return {"steps": steps, "committed": committed, "drain_s": drain_s,
                "spool_segments": self._spool_segments() - segs0,
                "committed_segments": len(self.watcher.seen) - seen0,
                "first_batch": first_batch,
                "progress": [p for p in self._progress() if p["batchId"] >= first_batch],
                "label": label}

    def _spool_segments(self) -> int:
        return sum(1 for f in os.scandir(self.spool / "http") if f.name.endswith(".jsonl"))

    def _progress(self) -> list[dict]:
        return [json.loads(p.json) if hasattr(p, "json") else p for p in self.query.recentProgress]

    def _last_batch(self) -> int:
        return max((p["batchId"] for p in self._progress()), default=-1)

    def teardown(self) -> None:
        """Stop the listener, the stream and the watcher; safe to repeat."""
        if self.listener is not None:
            t0 = time.perf_counter()
            self.listener.stop()
            self.stop_s = time.perf_counter() - t0
            self.listener = None
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.watcher is not None:
            self.watcher.stop()

    # --- results ----------------------------------------------------------

    @staticmethod
    def _step_stats(rate: int, recs: list[list], committed: dict) -> dict | None:
        """Latencies of one step, timed from when each request was due, and
        whether the step was sustained. None for a step never started."""
        ok = [r for r in recs if r[4] == 200]
        if not ok:
            return None
        ack = [1000 * (r[3] - r[1]) for r in ok]
        com = [1000 * (committed[r[0]] - r[1]) for r in ok if r[0] in committed]
        late = max((r[2] - r[1] for r in recs if r[2] is not None), default=0.0)
        t, pct, n = tail(ack)
        ct, cpct, cn = tail(com) if com else (float("inf"), 0.0, 0)
        backlog = median(ack[-max(1, len(ack) // 5):])
        sent_all = all(r[4] != 0 for r in recs)
        sustained = (sent_all and t <= ACK_LIMIT_MS and backlog <= BACKLOG_MS
                     and len(com) == len(ok)
                     and median(com[-max(1, len(com) // 10):]) <= COMMIT_LIMIT_MS)
        return {"rate": rate, "ack_p50_ms": median(ack), "ack_tail_ms": t, "ack_tail_pct": pct,
                "ack_n": n, "last_fifth_ack_ms": backlog, "sent_all": sent_all,
                "commit_p50_ms": median(com) if com else float("inf"),
                "commit_tail_ms": ct, "commit_tail_pct": cpct, "commit_n": cn,
                "achieved_per_s": len(ok) / (max(r[3] for r in ok) - recs[0][1]),
                "gen_late_ms": 1000 * late, "sustained": sustained}

    def _ladder(self, m: dict) -> tuple[dict, dict, dict, int]:
        """(reference step, highest step sustained in ladder order, first
        step not sustained, sustained steps above the reference)."""
        stats = [s for s in (self._step_stats(*step, m["committed"]) for step in m["steps"]) if s]
        ref = stats[0]
        k = 0
        while k < len(stats) and stats[k]["sustained"]:
            k += 1
        top = stats[max(0, k - 1)]
        over = stats[min(k, len(stats) - 1)]
        return ref, top, over, max(0, k - 1)

    @staticmethod
    def _sustained(top: dict) -> float:
        """Achieved rate of the highest step sustained in ladder order; 0
        when not even the reference step was."""
        return top["achieved_per_s"] if top["sustained"] else 0.0

    def samples(self, m: dict) -> tuple[list[float], list[float], dict]:
        """(operation latencies in ms, unit latencies in s, report detail)
        at the reference step: an operation is one POST, from when it was
        due to its HTTP 200; a unit is one event, from when it was due to
        its committed output segment first being seen."""
        ok = [r for r in m["steps"][0][1] if r[4] == 200]
        committed = m["committed"]
        ref = self._step_stats(*m["steps"][0], committed)
        return ([1000 * (r[3] - r[1]) for r in ok],
                [committed[r[0]] - r[1] for r in ok if r[0] in committed],
                {"reference_rate": REFERENCE_RATE, "reference": ref, "drain_s": m["drain_s"],
                 "warmup": {"rate": WARMUP[0], "seconds": WARMUP[1]}})

    def check(self) -> tuple[int, int, list[str]]:
        """Exactly-once audit over every request sent, warm-up included:
        each 200-acked body committed exactly once, every malformed body
        refused with 400 and absent from the spool, every valid body acked,
        no staged file left behind."""
        bodies = datagen.webhook_bodies(self.ctx.seed, self.next_id, BAD_EVERY)
        copies: dict[int, int] = {}
        for d in self.out.iterdir():
            for f in d.iterdir():
                if f.name.endswith(".jsonl"):
                    for line in f.read_text().splitlines():
                        i = json.loads(json.loads(line)["value"])["id"]
                        copies[i] = copies.get(i, 0) + 1
        spooled_bad = 0
        for f in (self.spool / "http").iterdir():
            if f.name.endswith(".jsonl"):
                for line in f.read_text().splitlines():
                    try:
                        json.loads(json.loads(line)["value"])
                    except json.JSONDecodeError:
                        spooled_bad += 1
        problems: list[str] = []
        failed = 0
        sent = [r for r in self.sent if r[4] != 0]
        for i, _due, _sent, _done, status in sent:
            bad = i % BAD_EVERY == BAD_EVERY - 1
            want = 400 if bad else 200
            n = copies.get(i, 0)
            if status != want or (status == 200 and n != 1) or (status != 200 and n):
                failed += 1
                if len(problems) < 10:
                    problems.append(f"id {i}: status {status}, committed {n}x, body {bodies[i][:40]!r}")
        staged = [f for d in self.out.iterdir() for f in d.iterdir() if f.name.startswith(".staged-")]
        self.staged_leftover = len(staged)
        if spooled_bad:
            failed += spooled_bad
            problems.append(f"{spooled_bad} malformed bodies reached the spool")
        if staged:
            failed += len(staged)
            problems.append(f"{len(staged)} staged files left behind")
        return len(sent), failed, problems

    def per_layer(self, m: dict, tracer, groups: dict, run_id: str) -> dict:
        ref, top, over, n_up = self._ladder(m)
        out = {"sources.http_listener.sustained_events_per_s": self._sustained(top),
               "sources.http_listener.steps_sustained": n_up,
               "sources.http_listener.gen_late_ms.top": top["gen_late_ms"],
               "sources.http_listener.steps": {"ref": ref, "top": top, "over": over}}
        for tag, s in (("ref", ref), ("top", top), ("over", over)):
            out[f"sources.http_listener.ack_p50_ms.{tag}"] = s["ack_p50_ms"]
            out[f"sources.http_listener.ack_tail_ms.{tag}"] = s["ack_tail_ms"]
        recs = [r for _, rs in m["steps"] for r in rs]
        acked = sum(1 for r in recs if r[4] == 200)
        segs = m["spool_segments"]
        out.update({
            "sources.http_listener.acked": acked,
            "sources.http_listener.rejected": sum(1 for r in recs if r[4] == 400),
            "sources.http_listener.segments_written": segs,
            "sources.http_listener.bodies_per_segment": acked / max(1, segs),
            "sources.http_listener.stop_s": self.stop_s,
        })
        prog = [p for p in m["progress"] if p.get("numInputRows", 0) > 0]
        dur = [p.get("durationMs", {}) for p in prog]

        def med(key):
            vals = [d.get(key, 0) for d in dur]
            return median(vals) if vals else 0.0

        backlog = self._backlog(prog)
        out.update({
            "streaming.message_log.batches": len(prog),
            "streaming.message_log.rows_per_batch": (
                median([p["numInputRows"] for p in prog]) if prog else 0.0),
            "streaming.message_log.trigger_ms": med("triggerExecution"),
            "streaming.message_log.add_batch_ms": med("addBatch"),
            "streaming.message_log.latest_offset_ms": med("latestOffset"),
            "streaming.message_log.query_planning_ms": med("queryPlanning"),
            "streaming.message_log.wal_commit_ms": med("walCommit"),
            "streaming.message_log.backlog_segments": backlog,
            "streaming.message_log.committed_segments": m["committed_segments"],
            "streaming.message_log.staged_leftover": self.staged_leftover,
        })
        out["spark.catalyst.planning_ms"] = sum(d.get("queryPlanning", 0) for d in dur)
        tot = common.sum_exec(groups, lambda g: g.startswith("<stream>:")
                              and int(g.split(":")[1]) >= m["first_batch"])
        out.update({f"spark.exec.{k}": v for k, v in tot.items()})
        return out

    def _backlog(self, prog: list[dict]) -> float:
        """Largest sampled count of spool segments written but not yet
        consumed by a finished micro-batch."""
        from datetime import datetime, timezone

        done = []
        for p in prog:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            end = start.replace(tzinfo=timezone.utc).timestamp() + p["durationMs"]["triggerExecution"] / 1000
            off = p["sources"][0]["endOffset"]
            off = json.loads(off) if isinstance(off, str) else off
            done.append((end, int(off.get("http", 0))))
        done.sort()
        worst = 0
        for t, n in self.watcher.spool_samples:
            consumed = max((o for e, o in done if e <= t), default=None)
            if consumed is not None:
                worst = max(worst, n - consumed)
        return float(worst)
