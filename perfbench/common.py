"""Shared plumbing: the pinned environment, the Spark session, memory and
the engine-side statistics read from outside the package (event log,
Catalyst phase tracker, codegen metrics)."""

from __future__ import annotations

import json
import math
import os
import re
import resource
import subprocess
import sys
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NPROC = os.cpu_count() or 1
DRIVER_MEM = "1g"


def pin_env(work: Path) -> None:
    """Fix everything the package reads from the environment, before
    pyspark is imported. All scratch space lives under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the package (the message_log data source is
    # unpickled there), so the checkout must be on their path too
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(work: Path, event_log: bool):
    from hazelcast_jet_contrib_spark import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this (driver) Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def env_record(seed: int, spark_version: str) -> dict:
    return {
        "nproc": NPROC,
        "driver_memory": DRIVER_MEM,
        "seed": seed,
        "spark_version": spark_version,
        "python": sys.version.split()[0],
    }


# --- engine statistics read from outside ------------------------------------


class CatalystPhases:
    """Sums of Catalyst's per-query phase timings, read from each
    collected DataFrame's ``queryExecution().tracker()``."""

    def __init__(self):
        self.ms = {"analysis": 0, "optimization": 0, "planning": 0}

    def add(self, df) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        for name in self.ms:
            opt = phases.get(name)
            if opt.isDefined():
                self.ms[name] += int(opt.get().durationMs())


class CodegenClock:
    """Janino compile time from the JVM ``CodegenMetrics`` histogram.
    The histogram keeps a decaying reservoir, so count x mean is an
    estimate of the summed compile time; deltas are taken around a
    window."""

    def __init__(self, spark):
        self.h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def total_ms(self) -> float:
        return self.h.getCount() * self.h.getSnapshot().getMean()


EXEC_KEYS = ("jobs", "stages", "tasks", "task_run_ms", "task_deser_ms",
             "scheduler_delay_ms", "gc_ms", "shuffle_write_mb",
             "shuffle_fetch_wait_ms", "result_ser_ms")


def read_event_log(work: Path) -> list[dict]:
    files = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f)
    return events


def exec_by_group(events: list[dict]) -> dict[str, dict]:
    """Task metrics summed per Spark job group. A streaming query's
    micro-batch jobs count under ``"<stream>:<batchId>"``, jobs without a
    group under ``"<none>"``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(g, {k: 0 for k in EXEC_KEYS})

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            # a streaming query runs its micro-batches under its own run id
            g = (f"<stream>:{props.get('streaming.sql.batchId')}"
                 if props.get("sql.streaming.queryId")
                 else props.get("spark.jobGroup.id") or "<none>")
            bucket(g)["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = stage_group.get(e["Stage Info"]["Stage ID"], "<none>")
            bucket(g)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"], "<none>")
            b = bucket(g)
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            ser = m.get("Result Serialization Time", 0)
            dur = info["Finish Time"] - info["Launch Time"]
            getting = (info["Finish Time"] - info["Getting Result Time"]
                       if info.get("Getting Result Time") else 0)
            b["tasks"] += 1
            b["task_run_ms"] += run
            b["task_deser_ms"] += deser
            b["result_ser_ms"] += ser
            b["gc_ms"] += m.get("JVM GC Time", 0)
            # the Spark UI's definition: task wall not spent deserializing,
            # running, serializing the result or shipping it back
            b["scheduler_delay_ms"] += max(0, dur - run - deser - ser - getting)
            w = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / 2**20
            r = m.get("Shuffle Read Metrics") or {}
            b["shuffle_fetch_wait_ms"] += r.get("Fetch Wait Time", 0)
    return out


def sum_exec(groups: dict[str, dict], keep) -> dict:
    tot = {k: 0 for k in EXEC_KEYS}
    for g, b in groups.items():
        if keep(g):
            for k in EXEC_KEYS:
                tot[k] += b[k]
    return tot


# --- oracle comparison (same normalisation as the repo's test harness) -------


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rounded_columns(sql: str) -> dict[str, int]:
    """Output columns the SQL computes as ``ROUND(expr, d) AS name``, with
    their ``d``."""
    out = {}
    for m in re.finditer(r"\bROUND\(", sql, re.IGNORECASE):
        depth, i = 1, m.end()
        while depth and i < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        args = re.search(r",\s*(\d+)\s*\)$", sql[m.start():i])
        alias = re.match(r"\s*AS\s+(\w+)", sql[i:], re.IGNORECASE)
        if args and alias:
            out[alias.group(1)] = int(args.group(1))
    return out


def rows_match(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]],
               rounded: dict[str, int] | None = None) -> bool:
    """Same columns and the same multiset of rows. Cells must be equal,
    except that a column in ``rounded`` (name -> d, from the oracle's
    ``ROUND(expr, d)``) may differ by one unit in the d-th decimal: a
    float sum whose exact value sits on the half-unit boundary rounds
    either way depending on summation order, and both engines are right.
    Rows are paired by their other cells."""
    if got == want:
        return True
    (gc, gr), (wc, wr) = got, want
    if gc != wc or len(gr) != len(wr):
        return False
    tol = {i: 10.0**-d * 1.000001 for i, c in enumerate(gc) if (d := (rounded or {}).get(c)) is not None}
    if not tol:
        return False

    def key(r):
        return repr(tuple(v for i, v in enumerate(r) if i not in tol))

    def same(a, b):
        return all(x == y or (i in tol and isinstance(x, float) and isinstance(y, float)
                              and abs(x - y) <= tol[i])
                   for i, (x, y) in enumerate(zip(a, b)))

    gs, ws = sorted(gr, key=key), sorted(wr, key=key)
    return all(len(a) == len(b) and same(a, b) for a, b in zip(gs, ws))


def spark_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    cols = sorted(columns)
    return cols, sorted((tuple(_norm(r[c]) for c in cols) for r in rows), key=repr)


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    raw = [d[0] for d in res.description]
    cols = sorted(raw)
    idx = [raw.index(c) for c in cols]
    return cols, sorted((tuple(_norm(r[i]) for i in idx) for r in res.fetchall()), key=repr)
