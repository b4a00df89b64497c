"""The benchmark's own tests. Run from the repo root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import common, datagen  # noqa: E402
from perfbench.loadgen import due_offsets  # noqa: E402
from perfbench.stats import Span, tail, self_times  # noqa: E402


# --- seeded inputs ------------------------------------------------------------


def test_same_seed_same_tables(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7)
    b = datagen.write_tables(str(tmp_path / "b"), 7)
    c = datagen.write_tables(str(tmp_path / "c"), 8)
    names = sorted(p.name for p in Path(a).iterdir())
    assert names == sorted(p.name for p in Path(b).iterdir())
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "lineitem.parquet" in differ


def test_same_seed_same_corpus_and_bodies():
    args = (100, 2, 30, 0.3, 2, 5)
    assert datagen.dedup_corpus(3, *args) == datagen.dedup_corpus(3, *args)
    assert datagen.dedup_corpus(3, *args) != datagen.dedup_corpus(4, *args)
    assert datagen.webhook_bodies(3, 200, 50) == datagen.webhook_bodies(3, 200, 50)
    assert datagen.webhook_bodies(3, 200, 50) != datagen.webhook_bodies(4, 200, 50)


def test_corpus_plants_near_duplicates():
    from perfbench.wl_dedup import jaccard, shingles

    base, deltas, _ = datagen.dedup_corpus(5, 200, 1, 100, 0.5, 1, 5)
    sets = [shingles(t) for _, t in base]
    best = [max(jaccard(shingles(t), s) for s in sets) for _, t in deltas[0]]
    assert sum(j >= 0.9 for j in best) >= 30
    assert sum(j < 0.1 for j in best) >= 30


def test_bodies_mark_every_fiftieth_malformed():
    bodies = datagen.webhook_bodies(1, 100, 50)
    bad = []
    for i, b in enumerate(bodies):
        try:
            json.loads(b)
        except json.JSONDecodeError:
            bad.append(i)
    assert bad == [49, 99]


# --- the tail-percentile rule -------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_stops_at_the_cap():
    xs = [float(i) for i in range(1, 1001)]  # 10 beyond would be the 99th
    assert tail(xs) == (900.0, 90.0, 1000)


def test_tail_rounds_the_percentile_down():
    xs = [float(i) for i in range(1, 31)]  # rank 20 of 30 = 66.67th percentile
    assert tail(xs) == (20.0, 66.6, 30)


def test_tail_never_falls_below_the_median():
    assert tail([5.0, 1.0, 3.0]) == (3.0, 50.0, 3)
    assert tail([float(i) for i in range(19)]) == (9.0, 50.0, 19)
    value, pct, n = tail([float(i) for i in range(1, 21)])  # rank 10 of 20
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_ignores_input_order():
    xs = [float(i) for i in range(200)]
    assert tail(xs) == tail(list(reversed(xs)))


# --- self time ----------------------------------------------------------------


def _span(sid, layer, start, end, parent=None):
    return Span(f"s{sid}", layer, start, end, parent, "r", sid)


def test_self_time_subtracts_children():
    spans = [
        _span(1, "bench", 0.0, 10.0),
        _span(2, "registry", 1.0, 4.0, parent=1),
        _span(3, "spark", 4.0, 9.0, parent=1),
        _span(4, "spark", 5.0, 6.0, parent=2),  # ends outside its parent: clipped away
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(2.0)
    assert st["registry"] == pytest.approx(3.0)
    assert st["spark"] == pytest.approx(6.0)
    assert sum(st.values()) == pytest.approx(11.0)


def test_self_time_sums_to_root_wall_on_a_tree():
    spans = [
        _span(1, "bench", 0.0, 10.0),
        _span(2, "registry", 1.0, 3.0, parent=1),
        _span(3, "spark", 1.5, 2.5, parent=2),
        _span(4, "operators.dedup", 5.0, 9.5, parent=1),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(1, "bench", 0.0, 10.0),
        _span(2, "spark", 1.0, 6.0, parent=1),
        _span(3, "spark", 4.0, 8.0, parent=1),
    ]
    assert self_times(spans)["bench"] == pytest.approx(3.0)


# --- helpers --------------------------------------------------------------------


def test_schedule_spacing():
    offs = due_offsets([(4, 1.0), (2, 1.0)])
    assert offs == [0.0, 0.25, 0.5, 0.75, 1.0, 1.5]


def _step(rate, done_of):
    """One 1 s ladder step at ``rate``: every request due at k / rate, acked
    at ``done_of(due)`` and committed a second later."""
    recs = [[k, k / rate, k / rate, done_of(k / rate), 200] for k in range(rate)]
    return recs, {r[0]: r[3] + 1.0 for r in recs}


def test_ladder_step_fails_when_its_backlog_grows():
    from perfbench.wl_webhook import WebhookStream

    # served at two thirds of the offered rate: the backlog grows all step
    recs, committed = _step(1000, lambda due: due * 1.5 + 0.002)
    assert not WebhookStream._step_stats(1000, recs, committed)["sustained"]
    # served at 95%: still behind by ~50 ms at the end, and the next step
    # (10% faster) starts from that backlog
    recs, committed = _step(1000, lambda due: due / 0.95 + 0.002)
    assert WebhookStream._step_stats(1000, recs, committed)["last_fifth_ack_ms"] > 40


def test_ladder_step_survives_a_short_stall():
    from perfbench.wl_webhook import WebhookStream

    # every request acked in 2 ms, except an 80 ms stall halfway through
    recs, committed = _step(1000, lambda due: max(due, 0.58) + 0.002 if 0.5 <= due < 0.58
                            else due + 0.002)
    st = WebhookStream._step_stats(1000, recs, committed)
    assert st["sustained"] and st["achieved_per_s"] > 990


def test_ladder_step_with_unsent_requests_fails():
    from perfbench.wl_webhook import WebhookStream

    recs, committed = _step(1000, lambda due: due + 0.002)
    recs[-1][2:] = [None, None, 0]
    assert not WebhookStream._step_stats(1000, recs, committed)["sustained"]


def test_rows_match_tolerates_only_a_rounding_flip():
    want = (["a", "x"], [(1, 153764.92), (2, 0.5)])
    rounded = {"x": 2}
    assert common.rows_match((["a", "x"], [(1, 153764.93), (2, 0.5)]), want, rounded)
    assert not common.rows_match((["a", "x"], [(1, 153764.93), (2, 0.5)]), want)
    assert not common.rows_match((["a", "x"], [(1, 153764.94), (2, 0.5)]), want, rounded)
    assert not common.rows_match((["a", "x"], [(1, 153764.92)]), want, rounded)
    assert not common.rows_match((["a", "x"], [(3, 153764.92), (2, 0.5)]), want, rounded)


def test_rows_match_is_exact_on_unrounded_columns():
    want = (["a", "x", "y"], [(1, 0.5, 2.0)])
    assert not common.rows_match((["a", "x", "y"], [(1, 0.6, 2.0)]), want, {"y": 1})
    assert not common.rows_match((["a", "x", "y"], [(1, 0.5, 2.1)]), want, {"x": 1})
    assert common.rows_match((["a", "x", "y"], [(1, 0.5, 2.1)]), want, {"y": 1})


def test_rounded_columns_reads_round_aliases():
    sql = ("SELECT k, ROUND(SUM(p * (1 - d)), 2) AS revenue, "
           "round(AVG(q), 4) as avg_q, SUM(x) AS plain FROM t GROUP BY k")
    assert common.rounded_columns(sql) == {"revenue": 2, "avg_q": 4}


def test_event_log_attribution():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r:q1:build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "run-uuid", "sql.streaming.queryId": "q",
                        "streaming.sql.batchId": "4"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 160, "Getting Result Time": 0},
         "Task Metrics": {"Executor Run Time": 40, "Executor Deserialize Time": 5,
                          "Result Serialization Time": 1, "JVM GC Time": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                          "Shuffle Read Metrics": {"Fetch Wait Time": 3}}},
    ]
    g = common.exec_by_group(events)
    q = g["r:q1:build"]
    assert (q["jobs"], q["stages"], q["tasks"]) == (1, 1, 1)
    assert q["scheduler_delay_ms"] == 60 - 40 - 5 - 1
    assert q["shuffle_write_mb"] == 1.0 and q["shuffle_fetch_wait_ms"] == 3
    assert g["<stream>:4"]["jobs"] == 1


# --- smoke: every workload, end to end ------------------------------------------


def _smoke_tables() -> str | None:
    """The repo's own smallest fixture tables, when present."""
    try:
        sys.path.insert(0, str(ROOT / "tests"))
        from conftest import SMOKE_SF
    except ImportError:
        return None
    finally:
        sys.path.pop(0)
    return SMOKE_SF if Path(SMOKE_SF, "lineitem.parquet").exists() else None


@pytest.mark.parametrize("workload", ["analytics", "dedup_index", "webhook_stream"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    tables = _smoke_tables()
    if workload == "analytics" and tables:
        cmd += ["--tables", tables]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    # every workload prints every declared metric of its kind, and no other
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    if trace:
        ratio = out["metrics"]["trace.selftime_sum_ratio"]["value"]
        assert 0.9 <= ratio <= 1.1
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "analytics",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
