"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace
1`` is the separate traced run: it measures the same work once untraced
and once traced (spans, one Spark job group per operation, the Spark event
log) and prints the per-layer metrics. Either way the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is a JSON report with the environment, sample counts and
tail percentiles. Any correctness mismatch exits 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import uuid
from pathlib import Path

T_PROCESS = time.perf_counter()

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.stats import Tracer, median, self_times, tail  # noqa: E402

WORKLOADS = ("analytics", "dedup_index", "webhook_stream")

#: The result metrics, the same on every workload; what an operation and a
#: unit are is each workload's own (README). The operation's tail is in the
#: report line only: over ten seeds the webhook ack tail spread 0.26
#: (quartile distance over median), more than a result metric may.
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "unit_s": "s"}

#: Package layers, as opposed to the engine (``spark``) and the harness
#: (``bench``).
PACKAGE_LAYERS = ("registry", "operators.dedup", "sources.http_listener",
                  "streaming.message_log")


#: Engine counters every workload moves. GC time, shuffle bytes and fetch
#: wait, result serialization and code generation read 0 on some
#: workloads' traced units; they are in the report line's ``layers``.
EXEC_METRICS = ("jobs", "stages", "tasks", "task_run_ms", "task_deser_ms",
                "scheduler_delay_ms")


def per_layer_names() -> dict[str, str]:
    """The per-layer metrics with their units: those every workload
    produces. Each layer's own figures are in the report line."""
    out = {"session.start_s": "s", "spark.catalyst.planning_ms": "ms"}
    for k in EXEC_METRICS:
        out[f"spark.exec.{k}"] = "count" if k in ("jobs", "stages", "tasks") else "ms"
    out.update({"selftime.package_s": "s", "selftime.bench_s": "s",
                "trace.wall_s": "s", "trace.untraced_wall_s": "s",
                "trace.overhead_s": "s", "trace.selftime_sum_ratio": "ratio"})
    return out


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, seed: int, work: Path, tables: str | None):
        self.seed = seed
        self.work = work
        self.tables = tables
        self.run_id = uuid.uuid4().hex[:8]
        self.spark = None
        self.trace = False
        self.grouping = False

    def job_group(self, name: str) -> None:
        if self.grouping:
            self.spark.sparkContext.setJobGroup(f"{self.run_id}:{name}", name)


def make_workload(name: str, ctx: Ctx):
    if name == "analytics":
        from perfbench.wl_analytics import Analytics
        return Analytics(ctx)
    if name == "dedup_index":
        from perfbench.wl_dedup import DedupIndex
        return DedupIndex(ctx)
    from perfbench.wl_webhook import WebhookStream
    return WebhookStream(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="analytics only: read these parquet tables "
                    "instead of generating them from the seed")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    work = common.ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    common.pin_env(work)
    try:
        import hazelcast_jet_contrib_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    load_start = os.getloadavg()[0]

    ctx = Ctx(args.seed, work, args.tables)
    ctx.trace = trace
    wl = make_workload(args.workload, ctx)
    try:
        # set-up time runs from process start to the end of the warm unit,
        # less the time spent generating the seeded inputs
        g0 = time.perf_counter()
        wl.prepare_inputs()
        inputs_s = time.perf_counter() - g0
        t0 = time.perf_counter()
        ctx.spark = common.start_session(work, event_log=trace)
        session_s = time.perf_counter() - t0
        wl.setup(Tracer(ctx.run_id, False))
        setup_s = time.perf_counter() - T_PROCESS - inputs_s
        report = {"workload": args.workload, "env": common.env_record(args.seed, ctx.spark.version),
                  "loadavg_1m_start": load_start, "setup_s": setup_s,
                  "session_start_s": session_s, "inputs_s": inputs_s}

        if not trace:
            m = wl.measure(args.seconds, Tracer(ctx.run_id, False), "m")
            ops, units, detail = wl.samples(m)
            report.update(detail)
        else:
            # a discarded unit first where set-up leaves the first unit
            # colder than the next (the analytics pass is each query's
            # first run), so that the two halves below do the same work;
            # both walls are taken by the harness, outside any span
            if getattr(wl, "TRACE_DISCARD", True):
                wl.measure(args.seconds, Tracer(ctx.run_id, False), "w")
            u0 = time.perf_counter()
            untraced = wl.measure(args.seconds, Tracer(ctx.run_id, False), "u")
            untraced_wall = time.perf_counter() - u0
            tracer = Tracer(ctx.run_id, True)
            catalyst = common.CatalystPhases()
            codegen = common.CodegenClock(ctx.spark)
            cg0 = codegen.total_ms()
            ctx.grouping = True
            t1 = time.perf_counter()
            with tracer.span("workload", "bench"):
                traced = wl.measure(args.seconds, tracer, "t", catalyst=catalyst,
                                    units=untraced.get("units"))
            traced_wall = time.perf_counter() - t1
            ctx.grouping = False
            cg = codegen.total_ms() - cg0

        rss = common.peak_rss_mb(ctx.spark)
        wl.teardown()
        attempted, failed, problems = wl.check()
        report["loadavg_1m_end"] = os.getloadavg()[0]
        report["problems"] = problems[:20]

        if not trace:
            op_tail, op_pct, op_n = tail(ops)
            found = {"setup_s": setup_s, "peak_rss_mb": rss, "op_p50_ms": median(ops),
                     "unit_s": median(units)}
            metrics = {k: (found[k], u) for k, u in END_TO_END.items()}
            report.update(op_tail_ms=op_tail, op_tail_percentile=op_pct, op_samples=op_n,
                          unit_samples=len(units))
        else:
            groups = common.exec_by_group(common.read_event_log(work))
            layers = {f"spark.catalyst.{k}_ms": v for k, v in catalyst.ms.items()}
            layers["spark.catalyst.codegen_compile_ms"] = cg
            layers.update(wl.per_layer(traced, tracer, groups, ctx.run_id))
            st = self_times(tracer.spans)
            layers.update({f"selftime.{k}_s": v for k, v in st.items()})
            # the package and engine layers' self times (all but the
            # harness's own ``bench`` gap) over the harness-timed wall: below
            # 0.9 means more than a tenth of the work ran outside any span
            ratio = sum(v for k, v in st.items() if k != "bench") / traced_wall
            names = per_layer_names()
            found = {"session.start_s": session_s,
                     "spark.catalyst.planning_ms": layers["spark.catalyst.planning_ms"],
                     **{f"spark.exec.{k}": layers[f"spark.exec.{k}"] for k in EXEC_METRICS},
                     "selftime.package_s": sum(st.get(k, 0.0) for k in PACKAGE_LAYERS),
                     "selftime.bench_s": st.get("bench", 0.0),
                     "trace.wall_s": traced_wall,
                     "trace.untraced_wall_s": untraced_wall,
                     "trace.overhead_s": traced_wall - untraced_wall,
                     "trace.selftime_sum_ratio": ratio}
            metrics = {k: (found[k], names[k]) for k in names}
            report["layers"] = layers
            trace_dir = common.ROOT / ".perfbench_work" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-{args.seed}-{ctx.run_id}.jsonl"))
        broken = sorted(k for k, (v, _) in metrics.items() if not math.isfinite(v))
        if broken:
            failed += len(broken)
            report["problems"].append(f"metrics without a finite value: {broken}")
    finally:
        wl.teardown()
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    report["correct"] = failed == 0
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v) if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
