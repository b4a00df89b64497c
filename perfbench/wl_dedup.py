"""dedup_index: a closed loop with one client over a seeded corpus. Set-up
builds a MinHash index over the base corpus. One lifecycle starts from a
copy of that index, then per delta epoch appends the delta and runs a
burst of probe batches, then compacts the index and runs a final burst.
Lifecycles repeat, each on a fresh copy, until the run's time is used."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import common, datagen
from perfbench.stats import fits, median

BASE_DOCS = 1000
EPOCHS = 1
EPOCH_DOCS = 250
DUP_SHARE = 0.3
PROBE_BATCHES = 1
PROBE_SIZE = 40
THRESHOLD = 0.6
#: every indexed document at or above this exact Jaccard must be found;
#: below it, LSH banding (16 bands x 8 rows) may legitimately miss a pair
RECALL_FLOOR = 0.9


def shingles(text: str, n: int = 3) -> frozenset:
    toks = text.lower().split()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


class DedupIndex:
    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = ctx.work / "dedup"
        self.base_index = self.dir / "index-base"
        self.results: list[tuple[int, int, dict]] = []  # (epoch, batch, {pair: jaccard})

    def _write_docs(self, name: str, docs) -> str:
        path = str(self.dir / "inputs" / f"{name}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": [t for _, t in docs],
        }), path)
        return path

    def prepare_inputs(self) -> None:
        (self.dir / "inputs").mkdir(parents=True, exist_ok=True)
        self.base, self.deltas, self.probes = datagen.dedup_corpus(
            self.ctx.seed, BASE_DOCS, EPOCHS, EPOCH_DOCS, DUP_SHARE,
            PROBE_BATCHES, PROBE_SIZE)
        self.base_path = self._write_docs("base", self.base)
        self.delta_paths = [self._write_docs(f"delta{e}", d) for e, d in enumerate(self.deltas)]
        self.probe_paths = [[self._write_docs(f"probe{e}_{b}", p) for b, p in enumerate(burst)]
                            for e, burst in enumerate(self.probes)]

    def _lifecycle(self, label: str, tracer, rec: dict, catalyst=None) -> None:
        from hazelcast_jet_contrib_spark.operators import dedup

        spark, ctx = self.ctx.spark, self.ctx
        idx = str(self.dir / f"index-{label}")

        def timed(kind: str, fn, op: str | None = None):
            ctx.job_group(f"{label}:{op or kind}")
            t0 = time.perf_counter()
            with tracer.span(op or kind, "operators.dedup"):
                out = fn()
            rec.setdefault(kind, []).append(time.perf_counter() - t0)
            return out

        def probe(p: str):
            df = dedup.probe_minhash_index(spark, idx, spark.read.parquet(p),
                                           threshold=THRESHOLD)
            return df, df.collect()

        def burst(e: int):
            for b, p in enumerate(self.probe_paths[e]):
                df, pairs = timed("probe", lambda: probe(p), op=f"probe{e}_{b}")
                if catalyst is not None:
                    catalyst.add(df)
                self.results.append((e, b, {(r[0], r[1]): r[2] for r in pairs}))

        for e, dp in enumerate(self.delta_paths):
            timed("append", lambda: dedup.append_to_minhash_index(spark.read.parquet(dp), idx))
            burst(e)
        stats = timed("compact", lambda: dedup.compact_minhash_index(spark, idx))
        burst(len(self.delta_paths))
        rec.setdefault("files", []).append(stats)
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(idx) for f in fs if f.endswith(".parquet"))
        rec.setdefault("bytes_per_doc", []).append(
            size / (len(self.base) + sum(len(d) for d in self.deltas)))
        shutil.rmtree(idx, ignore_errors=True)

    def setup(self, tracer) -> None:
        """Build the base index once; it is the set-up's warm unit too, as
        the first MinHash job starts the Python workers the kernel runs in.
        A warm probe as well cost 4 s and left the measured probes as
        slow."""
        from hazelcast_jet_contrib_spark.operators import dedup

        spark = self.ctx.spark
        t0 = time.perf_counter()
        dedup.build_minhash_index(spark.read.parquet(self.base_path), str(self.base_index))
        self.build_s = time.perf_counter() - t0

    def measure(self, seconds: float, tracer, label: str, catalyst=None, units=None) -> dict:
        """Whole lifecycles, at least one, while the next is expected to end
        within ``seconds``; or exactly ``units`` lifecycles when given."""
        rec: dict = {}
        self.results = []
        walls: list[float] = []
        t0 = time.perf_counter()
        while (len(walls) < units) if units else fits(walls, t0, seconds):
            shutil.copytree(self.base_index, self.dir / f"index-{label}{len(walls)}")
            t1 = time.perf_counter()
            self._lifecycle(f"{label}{len(walls)}", tracer, rec, catalyst)
            walls.append(time.perf_counter() - t1)
        rec.update(units=len(walls), walls=walls, label=label)
        self.checked = list(self.results)
        return rec

    def teardown(self) -> None:
        pass

    def expected(self) -> dict:
        """Per (epoch, batch): every (probe, corpus) pair at or above the
        threshold with its exact Jaccard, and the pairs at or above
        ``RECALL_FLOOR`` that must be found."""
        sets = {d: shingles(t) for d, t in self.base}
        visible = [dict(sets)]  # what the index holds after epoch e
        for delta in self.deltas:
            sets.update({d: shingles(t) for d, t in delta})
            visible.append(dict(sets))
        out = {}
        for e, burst in enumerate(self.probes):
            corpus = visible[min(e + 1, len(self.deltas))]
            for b, batch in enumerate(burst):
                above, must = {}, set()
                for pid, text in batch:
                    ps = shingles(text)
                    for c, cs in corpus.items():
                        if not ps.isdisjoint(cs):
                            j = jaccard(ps, cs)
                            if j >= THRESHOLD:
                                above[(pid, c)] = j
                            if j >= RECALL_FLOOR:
                                must.add((pid, c))
                out[(e, b)] = (above, must)
        return out

    def check(self) -> tuple[int, int, list[str]]:
        """Every probe batch's pairs against the exact Jaccard: no pair
        below the threshold or with a wrong score, none of the must-find
        pairs missing."""
        want = self.expected()
        failed, problems = 0, []
        for e, b, got in self.checked:
            above, must = want[(e, b)]
            wrong = [k for k, j in got.items() if k not in above or abs(above[k] - j) > 1e-6]
            missed = must - got.keys()
            if wrong or missed:
                failed += 1
                problems.append(f"probe epoch {e} batch {b}: {len(wrong)} wrong, {len(missed)} missed")
        return len(self.checked), failed, problems

    def samples(self, m: dict) -> tuple[list[float], list[float], dict]:
        """(operation latencies in ms, unit walls in s, report detail): an
        operation is one probe batch, collect included; a unit is one index
        lifecycle."""
        return ([1000 * x for x in m["probe"]], m["walls"], {
            "lifecycles": m["units"], "probes": len(m["probe"]),
            "build_docs_per_s": BASE_DOCS / self.build_s,
            "append_docs_per_s": median([EPOCH_DOCS / t for t in m["append"]])})

    def per_layer(self, m: dict, tracer, groups: dict, run_id: str) -> dict:
        pre = f"{run_id}:{m['label']}"
        probe_groups = [g for g in groups if g.startswith(pre) and ":probe" in g]
        files = m["files"]
        return {
            "operators.dedup.build_s": self.build_s,
            "operators.dedup.append_s": median(m["append"]),
            "operators.dedup.compact_s": median(m["compact"]),
            "operators.dedup.probe_s": median(m["probe"]),
            "operators.dedup.index_files_before_compact": median([f["files_before"] for f in files]),
            "operators.dedup.index_files_after_compact": median([f["files_after"] for f in files]),
            "operators.dedup.index_bytes_per_doc": median(m["bytes_per_doc"]),
            "operators.dedup.probe_pairs": sum(len(p) for _, _, p in self.checked),
            "operators.dedup.jobs_per_probe": (
                sum(groups[g]["jobs"] for g in probe_groups) / max(1, len(m["probe"]))),
        } | {f"spark.exec.{k}": v for k, v in
             common.sum_exec(groups, lambda g: g.startswith(pre)).items()}
