"""analytics: a closed loop with one client. Each pass runs a fixed set of
6 TPC-H-shaped and sketch/HLL queries from the registry, in a fixed order,
over tables generated from the seed, and collects every result."""

from __future__ import annotations

import time

from perfbench import common
from perfbench.stats import fits

#: The pass: the slowest query of each of the registry's five TPC-H-shaped
#: and sketch modules, and a second of queries_decorrelated. A query's
#: first run in a session costs 1-4 s on 4 cores whatever the table size
#: (a pass over all 27 took 39 s at scale factor 0.1 and 33 s at 0.02; over
#: 9 of them, 22 s), so more do not fit the run length that the
#: benchmark's 70 runs allow.
QUERIES = (
    "q3_order_revenue",  # queries_relational
    "q18_large_volume_customers",  # queries_subqueries
    "q9_product_type_profit", "q21_waiting_suppliers",  # queries_decorrelated
    "cms_user_frequency",  # queries_sketches
    "hll_customers_accuracy",  # queries_probabilistic
)
# The order is fixed: the first queries of a pass pay most of the session's
# remaining first-use cost, so with the order drawn from the seed the median
# query latency moved with whichever query came first (0.23 quartile spread
# over ten seeds, against 0.10 for the pass).


class Analytics:
    def __init__(self, ctx):
        from hazelcast_jet_contrib_spark import registry

        self.ctx = ctx
        self.registry = registry
        self.names = list(QUERIES)
        self.data = ctx.tables or str(ctx.work / "tables")
        self.last: dict[str, tuple] = {}

    def prepare_inputs(self) -> None:
        from perfbench import datagen

        if not self.ctx.tables:  # scale factor 0.1: 600k line items
            datagen.write_tables(self.data, self.ctx.seed)

    def _pass(self, label: str, tracer, catalyst=None, record=None) -> float:
        spark, ctx = self.ctx.spark, self.ctx
        t0 = time.perf_counter()
        for name in self.names:
            fn = self.registry.QUERIES[name]
            module = fn.__module__.rsplit(".", 1)[-1]
            q0 = time.perf_counter()
            ctx.job_group(f"{label}:{name}:build")
            with tracer.span(f"{name}.build", "registry", module=module):
                df = fn(spark, self.data)
            ctx.job_group(f"{label}:{name}:collect")
            with tracer.span(f"{name}.collect", "spark", module=module):
                rows = df.collect()
            q1 = time.perf_counter()
            if catalyst is not None:
                catalyst.add(df)
            if record is not None:
                record.append((name, q1 - q0))
            self.last[name] = (df.columns, rows)
        return time.perf_counter() - t0

    def setup(self, tracer) -> None:
        """The untimed warm unit: one aggregation over a table, which is not
        in the pass. It starts the scheduler, the parquet reader and code
        generation. The measured pass is then each query's first run in the
        session, as in a fresh user session. A cold pass as the warm unit,
        so that the measured pass ran warm, made a run 9 s longer than the
        benchmark's 70 runs can carry."""
        spark = self.ctx.spark
        spark.read.parquet(f"{self.data}/orders.parquet").groupBy("o_orderpriority").count().collect()

    def measure(self, seconds: float, tracer, label: str, catalyst=None, units=None) -> dict:
        """Whole passes, at least one, while the next is expected to end
        within ``seconds``; or exactly ``units`` passes when given."""
        walls, lat = [], []
        t0 = time.perf_counter()
        while (len(walls) < units) if units else fits(walls, t0, seconds):
            walls.append(self._pass(f"{label}{len(walls)}", tracer, catalyst, lat))
        return {"walls": walls, "lat": lat, "units": len(walls)}

    def teardown(self) -> None:
        pass

    def per_layer(self, m: dict, tracer, groups: dict, run_id: str) -> dict:
        out = {}
        for s in tracer.spans:
            if s.layer in ("registry", "spark"):
                kind = s.name.rsplit(".", 1)[1]
                key = f"registry.{s.attrs['module']}.{kind}_s"
                out[key] = out.get(key, 0.0) + s.dur
        for g, b in groups.items():
            if g.startswith(f"{run_id}:t") and g.endswith(":build"):
                module = self.registry.QUERIES[g.split(":")[2]].__module__.rsplit(".", 1)[-1]
                key = f"registry.{module}.eager_jobs"
                out[key] = out.get(key, 0) + b["jobs"]
        tot = common.sum_exec(groups, lambda g: g.startswith(f"{run_id}:t"))
        out.update({f"spark.exec.{k}": v for k, v in tot.items()})
        return out

    def check(self) -> tuple[int, int, list[str]]:
        """Every query of the last pass against its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        bad = []
        for name in self.names:
            cols, rows = self.last[name]
            got = common.spark_rows(cols, rows)
            sql = self.registry.ORACLES[name]
            want = common.oracle_rows(con, sql)
            if not common.rows_match(got, want, common.rounded_columns(sql)):
                bad.append(name)
        con.close()
        return len(self.names), len(bad), bad

    @staticmethod
    def samples(m: dict) -> tuple[list[float], list[float], dict]:
        """(operation latencies in ms, unit walls in s, report detail): an
        operation is one query, build plus collect; a unit is one pass."""
        return ([1000 * x for _, x in m["lat"]], m["walls"],
                {"passes": len(m["walls"]),
                 "query_ms": [(name, round(1000 * x, 1)) for name, x in m["lat"]]})
