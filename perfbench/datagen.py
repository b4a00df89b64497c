"""Seeded input generation for the three workloads.

Everything the benchmark feeds the package comes from here, and only from
the ``--seed``: the same seed always yields byte-identical tables, the same
dedup corpus and the same webhook bodies. Nothing is read from outside the
working directory.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts and value distributions of the TPC-H-shaped tables the
# registry's queries read, at scale factor 0.1 (600k lineitems): the same
# row counts, key ranges and column distributions as the repo's sf0.1
# fixture tables, profiled column by column. ``scale`` shrinks every
# table except the fixed-size dimensions (region, nation) proportionally.
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return (_EPOCH_1995 + rng.integers(lo, hi, n)).astype("datetime64[us]")


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.array(choices)[rng.integers(0, len(choices), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the analytics tables (the schema the registry's queries read)
    at ``scale`` x scale factor 0.1 under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(k * scale)) for t, k in SF01_ROWS.items()}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(rng, names, k),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, 0, 2405, k),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    # line items draw their order, part and supplier keys independently
    # and uniformly, and their ship date independently of the order date
    k = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, 1, 2500, k),
    })
    k = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(ts0 + rng.integers(0, 30 * 86400 * 10**6, k).astype("timedelta64[us]"))
    props = [json.dumps({"k": i}) for i in range(100)]
    _write(out_dir, "events", {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(1, int(1500 * scale)), k).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": _pick(rng, props, k),
    })
    k = n["documents"]
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), m))
             for m in rng.integers(10, 101, k)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, k),
        "source": _pick(rng, [f"src{i}" for i in range(20)], k),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return out_dir


# --- dedup_index corpus -------------------------------------------------------

#: Vocabulary for the dedup corpus: large enough that two independent
#: documents share almost no 3-word shingles, so every verified pair is a
#: planted near-duplicate.
DEDUP_VOCAB = [f"w{i}" for i in range(5000)]


def _near_dup(rng, words: list[str], edits: int) -> list[str]:
    out = list(words)
    for _ in range(edits):
        out[int(rng.integers(0, len(out)))] = DEDUP_VOCAB[int(rng.integers(0, len(DEDUP_VOCAB)))]
    return out


def dedup_corpus(seed: int, base_docs: int, epochs: int, epoch_docs: int,
                 dup_share: float, probe_batches: int, probe_size: int):
    """The base corpus, ``epochs`` deltas, and per-epoch probe bursts.

    A ``dup_share`` of every delta and every probe batch are near-copies
    (one word changed, Jaccard >= 0.94) of a document indexed earlier, so probes
    find matches; the rest are fresh random documents. Returns
    ``(base, deltas, probes)``: ``base`` and each delta are lists of
    ``(doc_id, text)``, ``probes[e]`` is the list of probe batches run
    after epoch ``e`` (index ``epochs`` is the post-compaction burst).
    """
    rng = np.random.default_rng([seed, 2])
    next_id = 0
    indexed: list[list[str]] = []

    def fresh() -> list[str]:
        return [DEDUP_VOCAB[i] for i in rng.integers(0, len(DEDUP_VOCAB), int(rng.integers(100, 200)))]

    def doc(pool: list[list[str]]) -> list[str]:
        if pool and rng.random() < dup_share:
            src = pool[int(rng.integers(0, len(pool)))]
            return _near_dup(rng, src, 1)
        return fresh()

    def batch(n: int, pool: list[list[str]]):
        nonlocal next_id
        out = []
        for _ in range(n):
            out.append((next_id, " ".join(doc(pool))))
            next_id += 1
        return out

    base = batch(base_docs, [])
    indexed.extend(t.split() for _, t in base)
    deltas, probes = [], []
    for e in range(epochs + 1):
        if e < epochs:
            delta = batch(epoch_docs, indexed)
            indexed.extend(t.split() for _, t in delta)
            deltas.append(delta)
        probes.append([batch(probe_size, indexed) for _ in range(probe_batches)])
    return base, deltas, probes


# --- webhook bodies -------------------------------------------------------------


def webhook_bodies(seed: int, n: int, bad_every: int) -> list[bytes]:
    """``n`` POST bodies: seeded JSON events, each with a unique ``id`` and
    an event ``type`` that routes it to an output stream. Every
    ``bad_every``-th body is malformed JSON, which the listener must
    refuse with a 400."""
    rng = np.random.default_rng([seed, 3])
    types = rng.integers(0, len(EVENT_TYPES), n)
    users = rng.integers(0, 10_000, n)
    values = np.round(rng.uniform(0.0, 1000.0, n), 2)
    out = []
    for i in range(n):
        if bad_every and i % bad_every == bad_every - 1:
            out.append(b'{"id": %d, "type": "broken"' % i)
        else:
            out.append(json.dumps({
                "id": i, "type": EVENT_TYPES[types[i]], "user": int(users[i]),
                "value": float(values[i]),
                "ts": datetime(2024, 1, 1).isoformat(),
            }).encode())
    return out
