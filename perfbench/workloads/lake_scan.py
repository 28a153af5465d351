"""lake_scan: read queries over a lake larger than the replay cache, and
the near-duplicate and similarity operators.

The lake is 5 tenants x 8 tables = 40 Delta-protocol tables, more than
the 32 snapshots the table layer keeps cached. Every table has a
checkpoint at version 0 and a JSON commit after it. One operation is one
read query for one tenant: it resolves the tables the query names with
``DeltaProtocolTable.to_df()`` and collects the result. Tenants are
visited round-robin and each visit touches all eight of the tenant's
tables (one query over the four sales tables, one over the four supply
tables), so every table is resolved once per 40 resolutions and each
resolution replays a checkpoint plus a JSON tail. Query results are
compared with DuckDB running the same SQL over the same generated rows.

After each round of the tenants comes one call of the embedding
near-duplicate operator over an in-memory corpus
(:mod:`workloads.similarity`): executor work that commits nothing and
bypasses the table layer.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

import gen
from workloads.base import StepResult, Workload, arrow_bytes, frames_equal
from workloads.similarity import KINDS, Similarity

from mack_spark.sources.delta_log import DeltaProtocolTable

TENANTS = 5
SALES = ["lineitem", "orders", "customer", "nation"]
SUPPLY = ["partsupp", "part", "supplier", "region"]
N_ORDERS = 4_000
N_CUST = 400
N_PART = 1_000
N_SUPP = 50

STAR = """
  FROM lineitem JOIN {orders} ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey"""
# Sales queries name all four sales tables; supply queries all four
# supply tables. {p} is a seeded parameter.
SALES_QUERIES = {
    "star_groupby": "SELECT n_name, count(*) AS n,"
                    " sum(l_extendedprice * (1 - l_discount)) AS revenue"
                    + STAR + " GROUP BY n_name",
    "key_range": "SELECT o_orderstatus, n_regionkey, count(*) AS n, sum(l_quantity) AS qty"
                 + STAR + " WHERE l_orderkey BETWEEN {p} AND {p} + 40"
                 " GROUP BY o_orderstatus, n_regionkey",
    "top_customers": "SELECT c_custkey, c_name, n_name,"
                     " sum(l_extendedprice * (1 - l_discount)) AS revenue"
                     + STAR + " GROUP BY c_custkey, c_name, n_name"
                     " ORDER BY revenue DESC, c_custkey LIMIT 10",
    "time_travel": "SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,"
                   " sum(l_quantity) AS qty"
                   + STAR.replace("{orders}", "orders_v0")
                   + " WHERE n_regionkey = {p} % 5 GROUP BY o_orderpriority",
}
SUPPLY_QUERIES = {
    "supply_value": "SELECT r_name, p_type, count(*) AS n,"
                    " sum(ps_supplycost * ps_availqty) AS value"
                    " FROM partsupp JOIN part ON ps_partkey = p_partkey"
                    " JOIN supplier ON ps_suppkey = s_suppkey"
                    " JOIN region ON s_regionkey = r_regionkey GROUP BY r_name, p_type",
    "cheapest_parts": "SELECT p_partkey, p_name, min(ps_supplycost) AS best"
                      " FROM partsupp JOIN part ON ps_partkey = p_partkey"
                      " JOIN supplier ON ps_suppkey = s_suppkey"
                      " JOIN region ON s_regionkey = r_regionkey"
                      " WHERE r_regionkey = {p} % 5 AND p_retailprice > 1500"
                      " GROUP BY p_partkey, p_name ORDER BY best, p_partkey LIMIT 10",
}


class LakeScan(Workload):
    name = "lake_scan"
    cycle = 2 * TENANTS + len(KINDS)
    amp_window = "setup"  # the timed phase commits nothing

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.frames = {}  # (tenant, table) -> pandas frame at the head version
        self.results = []  # (tenant, kind, sql, pandas result)
        self.scanned_bytes = 0
        self.sim = Similarity(self.spark, self.tracer,
                              np.random.default_rng([self.seed, TENANTS]))

    def _tenant_frames(self, rng):
        orders = gen.orders(rng, np.arange(N_ORDERS), N_CUST)
        more = gen.orders(rng, np.arange(N_ORDERS, N_ORDERS + 100), N_CUST)
        li = gen.lineitem(rng, np.arange(N_ORDERS + 100), 0, N_PART, N_SUPP)
        li = li.drop(columns=["l_id", "l_linenumber"])
        v0 = {"orders": orders, "lineitem": li[li.l_orderkey < N_ORDERS - 100],
              "customer": gen.customers(rng, np.arange(N_CUST)),
              "nation": gen.nation(rng), "part": gen.part(rng, N_PART),
              "supplier": gen.supplier(rng, N_SUPP),
              "partsupp": gen.partsupp(rng, N_PART, N_SUPP), "region": gen.region(rng)}
        # the commit after the checkpoint: new orders and their lines;
        # small tables get a copy of one row with a fresh key
        tail = {"orders": more, "lineitem": li[li.l_orderkey >= N_ORDERS - 100]}
        for name in ("customer", "part", "supplier", "partsupp"):
            row = v0[name].tail(1).copy()
            key = row.columns[0]
            row[key] = row[key] + (10**6 if name != "partsupp" else 0)
            if name == "partsupp":
                row["ps_suppkey"] = N_SUPP + 1
            tail[name] = row
        tail["nation"] = v0["nation"].head(0)
        tail["region"] = v0["region"].head(0)
        return v0, tail

    def setup(self) -> None:
        jobs = []
        for t in range(TENANTS):
            v0, tail = self._tenant_frames(np.random.default_rng([self.seed, t]))
            for name in SALES + SUPPLY:
                self.frames[(t, name)] = (v0[name], tail[name])
                self.setup_user_bytes += arrow_bytes(v0[name]) + arrow_bytes(tail[name])
                jobs.append((t, name))

        def build(key):
            t, name = key
            v0, tail = self.frames[key]
            df = self.df(v0)
            props = None
            if name == "lineitem":  # key-clustered files, so ranges prune
                df = df.repartitionByRange(4, "l_orderkey")
                props = {"delta.autoOptimize.optimizeWrite": "false"}
            tab = DeltaProtocolTable.create(
                self.spark, os.path.join(self.tables_root, f"t{t}", name), df,
                properties=props)
            tab.checkpoint()
            tab.append(self.df(tail) if len(tail) else self.df(v0).limit(0))
            return key, tab

        with ThreadPoolExecutor(4) as ex:
            for key, tab in ex.map(build, jobs):
                self.tables[key] = tab
        self.heads = {k: pd.concat([v0, tail], ignore_index=True)
                      for k, (v0, tail) in self.frames.items()}
        self.table_rows = {k: len(f) for k, f in self.heads.items()}
        self.sizes = {k: t.detail()["sizeInBytes"] for k, t in self.tables.items()}
        self.sim.setup()
        for i in range(-self.cycle, 0):  # warm-up: one cycle
            self.prepare(i)
            self.step(i)

    def kind_of(self, step: int) -> str:
        """Tenant t's queries in cycle c are sales query t + c and supply
        query t + c (modulo their count), so every run measures the same
        queries whatever its seed."""
        cyc, pos = divmod(step, self.cycle)
        if pos >= 2 * TENANTS:
            return KINDS[pos - 2 * TENANTS]
        names = list(SUPPLY_QUERIES if pos % 2 else SALES_QUERIES)
        return names[(pos // 2 + cyc) % len(names)]

    def prepare(self, step: int) -> None:
        kind = self.kind_of(step)
        if kind in KINDS:
            self.pending = (None, kind, None)
            return
        tenant = step % self.cycle // 2
        sql = {**SALES_QUERIES, **SUPPLY_QUERIES}[kind]
        p = int(self.rng.integers(0, N_ORDERS - 40))
        self.pending = (tenant, kind, sql.replace("{p}", str(p)).replace("{orders}", "orders"))

    def step(self, i: int) -> StepResult:
        tenant, kind, sql = self.pending
        if kind in KINDS:
            return StepResult(rows=self.sim.step())
        names = SALES if kind in SALES_QUERIES else SUPPLY
        rows = 0
        for name in names:
            tab = self.tables[(tenant, name)]
            with self.tracer.span("delta_log.to_df"):
                if name == "orders" and kind == "time_travel":
                    df = tab.to_df(version_as_of=0)
                    view = "orders_v0"
                    rows += len(self.frames[(tenant, name)][0])
                else:
                    df = tab.to_df()
                    view = name
                    rows += self.table_rows[(tenant, name)]
            df.createOrReplaceTempView(view)
        with self.tracer.span("spark.collect"):
            result = self.spark.sql(sql).toPandas()
        if self.tracer.enabled:
            self.scanned_bytes += sum(self.sizes[(tenant, n)] for n in names)
        self.results.append((tenant, kind, sql, result))
        return StepResult(rows=rows)

    def layer_metrics(self, input_by_kind: dict) -> dict:
        scanned = sum(v for k, v in input_by_kind.items() if k not in KINDS)
        return {"scan.input_bytes_per_table_byte":
                (scanned / max(self.scanned_bytes, 1), "ratio"),
                **self.sim.layer_metrics()}

    def check(self):
        con = duckdb.connect()
        bad = []
        for tenant, kind, sql, got in self.results:
            for name in SALES + SUPPLY:
                con.register(name, self.heads[(tenant, name)])
            con.register("orders_v0", self.frames[(tenant, "orders")][0])
            want = con.execute(sql).df()
            sort = None
            if "LIMIT" in sql:  # ordered results: compare in order
                sort = [c for c in want.columns if c.endswith("key")]
            ok, detail = frames_equal(got, want, sort_cols=sort, rtol=1e-6)
            if not ok:
                bad.append(f"tenant {tenant} {kind}: {detail}")
        return [(f"{len(self.results)} query results vs DuckDB", not bad,
                 "; ".join(bad[:3]) or "all match"), *self.sim.check()]
