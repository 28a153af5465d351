"""table_ops: mack's own table operations on Delta-protocol tables.

One operation is one mack table operation, in a seeded order over a fixed
mix (:data:`UNITS`): append-without-duplicates, validated append, SCD2
upsert MERGE, plain append followed by kill-duplicates or
drop-duplicates-pkey delete-MERGE, ``delete_where``, ``update_where`` and
``optimize``. Each operation touches about 1% of a table's keys, in a
contiguous seeded key slice. The final table states are checked against
DuckDB replaying the same operations over the same generated rows.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

import gen
from workloads.base import StepResult, Workload, arrow_bytes, frames_equal

from mack_spark.dedup import append_new_rows
from mack_spark.scd import scd2_keyed_merge
from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import KeyedMerge

N_CUST = 10_000
N_ORDERS = 30_000
N_LI_ORDERS = 5_000
ATTRS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
LI_KEYS = ["l_orderkey", "l_linenumber"]
# One cycle of the mix, in an order shuffled per cycle but the same for
# every seed, so every run measures the same sequence of operations; the
# seed picks key slices and values. A unit is one operation, or an
# append and the dedup that follows it.
UNITS = [("awd",), ("vappend",), ("scd2",), ("li_append", "kill"),
         ("delete",), ("update",), ("scd2",), ("li_append", "ddp"),
         ("awd",), ("optimize",)]
CYCLE = sum(len(u) for u in UNITS)
SCD2_EPOCH = np.datetime64("2021-01-01T00:00:00", "us")
NO_SPLIT = {"delta.autoOptimize.optimizeWrite": "false"}
# Tables start as this many key-range files. Key slices sit inside one of
# them, so an operation rewrites one file whatever slice the seed picks.
RANGES = 8


class TableOps(Workload):
    name = "table_ops"
    cycle = CYCLE

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.schedule = []
        self.log = []  # (op, payload) of every operation that succeeded
        self.pending = None
        self.next_order = N_ORDERS
        self.next_cust = N_CUST
        self.next_lid = 0
        self.merges = []  # (table name, version, rows changed or None)
        self.touched = [0, 0]

    # ---- setup ---------------------------------------------------------
    def setup(self) -> None:
        rng = self.rng
        cust = gen.customers(rng, np.arange(N_CUST))
        self.cur = {r.c_custkey: (r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment)
                    for r in cust.itertuples()}
        cust = cust.assign(is_current=True, effective_time=gen.EPOCH,
                           end_time=pd.Series(pd.NaT, index=cust.index,
                                              dtype="datetime64[us]"))
        orders = gen.orders(rng, np.arange(N_ORDERS), N_CUST)
        li = gen.lineitem(rng, np.arange(N_LI_ORDERS), 0)
        self.next_lid = len(li)
        self.li0 = li
        self.initial = {"customers": cust, "orders": orders, "lineitem": li}
        keys = {"customers": "c_custkey", "orders": "o_orderkey", "lineitem": "l_orderkey"}
        for name, pdf in self.initial.items():
            self.setup_user_bytes += arrow_bytes(pdf)
            df = self.df(pdf).repartitionByRange(RANGES, keys[name])
            self.tables[name] = DeltaProtocolTable.create(
                self.spark, os.path.join(self.tables_root, name), df,
                properties=NO_SPLIT)
        # warm-up: one full cycle, replayed by the oracle like any other
        for i in range(CYCLE):
            self.prepare(-CYCLE + i)
            self.step(-CYCLE + i)
        # the timed phase's counters start from zero
        self.user_bytes = 0
        self.merges.clear()
        self.touched = [0, 0]

    # ---- schedule ------------------------------------------------------
    def kind_of(self, step: int) -> str:
        cyc = (step + CYCLE) // CYCLE
        while len(self.schedule) <= cyc:
            order = np.random.default_rng(len(self.schedule)).permutation(len(UNITS))
            self.schedule.append([op for u in order for op in UNITS[u]])
        return self.schedule[cyc][(step + CYCLE) % CYCLE]

    def _slice(self, n_keys: int, width: int) -> np.ndarray:
        """``width`` contiguous keys inside one initial key range, clear
        of its edges by a tenth of the range (range boundaries are
        sampled, so they are only near the multiples of the range)."""
        size = n_keys // RANGES
        margin = size // 10
        start = (int(self.rng.integers(0, RANGES)) * size + margin
                 + int(self.rng.integers(0, size - width - 2 * margin)))
        return np.arange(start, start + width, dtype=np.int64)

    def prepare(self, step: int) -> None:
        """Build the operation's input outside the timed call."""
        kind = self.kind_of(step)
        rng = self.rng
        p = None
        if kind == "awd":  # half the keys exist already, half are new
            old = self._slice(N_ORDERS, 150)
            new = np.arange(self.next_order, self.next_order + 150)
            self.next_order += 150
            p = gen.orders(rng, np.concatenate([old, new]), N_CUST)
        elif kind == "vappend":
            new = np.arange(self.next_order, self.next_order + 300)
            self.next_order += 300
            p = gen.orders(rng, new, N_CUST)
        elif kind == "scd2":
            keys = self._slice(N_CUST, 80)
            fresh = gen.customers(rng, keys)
            rows = []
            n_changed = 0
            for k, f in zip(keys, fresh.itertuples()):
                if rng.random() < 0.75:
                    rows.append((k, f.c_name, f.c_nationkey, f.c_acctbal, f.c_mktsegment))
                    n_changed += 1
                else:
                    rows.append((k, *self.cur[k]))
            newk = np.arange(self.next_cust, self.next_cust + 20)
            self.next_cust += 20
            for r in gen.customers(rng, newk).itertuples(index=False):
                rows.append(tuple(r))
            p = pd.DataFrame(rows, columns=["c_custkey"] + ATTRS).astype(
                {"c_custkey": "int64", "c_nationkey": "int32"})
            p["effective_time"] = SCD2_EPOCH + np.timedelta64(step + CYCLE, "m")
            for r in p.itertuples(index=False):
                self.cur[r.c_custkey] = (r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment)
            # closes the changed rows and inserts a version of changed and new keys
            p.attrs["rows_changed"] = 2 * n_changed + len(newk)
        elif kind == "li_append":  # half repeat existing keys, half are new
            okeys = self._slice(N_LI_ORDERS, 25)
            dup = self.li0[self.li0.l_orderkey.isin(okeys)].head(100).copy()
            fresh = gen.lineitem(rng, np.arange(self.next_order, self.next_order + 25), 0)
            self.next_order += 25
            p = pd.concat([dup, fresh.head(100)], ignore_index=True)
            p["l_id"] = np.arange(self.next_lid, self.next_lid + len(p), dtype=np.int64)
            self.next_lid += len(p)
            self.last_li_keys = p[LI_KEYS].drop_duplicates()
        elif kind in ("kill", "ddp"):
            p = self.last_li_keys
        elif kind in ("delete", "update"):
            keys = self._slice(N_ORDERS, 300)
            p = (int(keys[0]), int(keys[-1]) + 1)
        elif kind == "optimize":
            p = ["orders", "lineitem", "customers"][(step + CYCLE) // CYCLE % 3]
        sdf = self.df(p) if isinstance(p, pd.DataFrame) else None
        self.pending = (kind, p, sdf)

    # ---- one operation -------------------------------------------------
    def step(self, i: int) -> StepResult:
        kind, p, sdf = self.pending
        tr = self.tracer
        rows = len(p) if isinstance(p, pd.DataFrame) and kind not in ("kill", "ddp") else 0
        t = self.tables
        if kind == "awd":
            with tr.span("delta_log.to_df"):
                target = t["orders"].to_df()
            with tr.span("core.append_new_rows"):
                new = append_new_rows(target, sdf, ["o_orderkey"])
            self._commit("append", "orders", new)
        elif kind == "vappend":
            self._vappend(sdf)
        elif kind == "scd2":
            with tr.span("delta_log.to_df"):
                base = t["customers"].to_df()
            with tr.span("core.scd2_keyed_merge"):
                km = scd2_keyed_merge(base, sdf, "c_custkey", ATTRS, "is_current",
                                      "effective_time", "end_time")
            res = self._merge("customers", km)
            self.merges.append(("customers", res["version"], p.attrs["rows_changed"]))
        elif kind == "li_append":
            self._commit("append", "lineitem", sdf)
        elif kind == "kill":
            with tr.span("delta_log.to_df"):
                li = t["lineitem"].to_df()
            dup_keys = (li.join(sdf, LI_KEYS, "left_semi").groupBy(*LI_KEYS).count()
                        .filter(F.col("count") > 1).drop("count"))
            km = KeyedMerge(source=dup_keys,
                            condition="t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber",
                            matched_delete=True, target_key_col="l_orderkey",
                            source_key_col="l_orderkey")
            res = self._merge("lineitem", km)
            self.merges.append(("lineitem", res["version"], None))
        elif kind == "ddp":
            with tr.span("delta_log.to_df"):
                li = t["lineitem"].to_df()
            w = Window.partitionBy(*LI_KEYS).orderBy("l_id")
            losers = (li.join(sdf, LI_KEYS, "left_semi")
                      .withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") > 1).select("l_id"))
            km = KeyedMerge(source=losers, condition="t.l_id = s.l_id",
                            matched_delete=True, target_key_col="l_id",
                            source_key_col="l_id")
            res = self._merge("lineitem", km)
            self.merges.append(("lineitem", res["version"], None))
        elif kind == "delete":
            self._commit("delete_where", "orders",
                         f"o_orderkey >= {p[0]} AND o_orderkey < {p[1]}")
        elif kind == "update":
            self._commit("update_where", "orders",
                         f"o_orderkey >= {p[0]} AND o_orderkey < {p[1]}",
                         {"o_totalprice": "o_totalprice * 1.01", "o_orderstatus": "'U'"})
        elif kind == "optimize":
            self._commit("optimize", p)
        if isinstance(p, pd.DataFrame) and kind not in ("kill", "ddp"):
            self.user_bytes += arrow_bytes(p)
        self.log.append((kind, p))
        return StepResult(rows=rows)

    def _vappend(self, sdf) -> None:
        """The column contract of ``appends.validate_append`` (required
        columns present, no column outside the table), then the append
        with ``merge_schema``. ``validate_append`` itself accepts only
        the parquet-backed table type, so the benchmark applies the same
        contract to the Delta-protocol table."""
        t = self.tables["orders"]
        with self.tracer.span("core.validate_append"):
            with self.tracer.span("delta_log.to_df"):
                cols = t.to_df().columns
            missing = {"o_orderkey", "o_custkey", "o_totalprice"} - set(sdf.columns)
            extra = set(sdf.columns) - set(cols)
            if missing or extra:
                raise TypeError(f"append contract: missing {missing}, extra {extra}")
        self._commit("append", "orders", sdf, merge_schema=True)

    def _merge(self, name: str, km) -> dict:
        return self._commit("merge", name, km)

    def _commit(self, method: str, name: str, *args, **kw):
        """One committing call on a table, in a ``delta_log.<method>``
        span. A traced commit that also wrote a checkpoint is tagged, by
        the change of the table's ``_last_checkpoint`` file."""
        table = self.tables[name]
        marker = os.path.join(table.path, "_delta_log", "_last_checkpoint")
        ckpt0 = _mtime(marker) if self.tracer.enabled else None
        with self.tracer.span(f"delta_log.{method}") as sp:
            res = getattr(table, method)(*args, **kw)
        if sp is not None:
            sp.attrs["checkpoint"] = _mtime(marker) != ckpt0
        if isinstance(res, dict) and "touched_files" in res:
            self.touched[0] += res["touched_files"]
            self.touched[1] += res["total_files"]
        return res

    # ---- per-layer -----------------------------------------------------
    def layer_metrics(self, input_by_kind: dict) -> dict:
        rewritten = changed = 0
        for name, version, rows_changed in self.merges:
            added, removed = commit_rows(self.tables[name], version)
            rewritten += added
            changed += rows_changed if rows_changed is not None else removed - added
        out = {}
        out["merge.touched_file_frac"] = (self.touched[0] / max(self.touched[1], 1), "ratio")
        out["merge.rows_rewritten_per_row_changed"] = (rewritten / max(changed, 1), "ratio")
        return out

    # ---- output check --------------------------------------------------
    def check(self):
        con = duckdb.connect()
        for name, pdf in self.initial.items():
            con.register("init", pdf)
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM init")
            con.unregister("init")
        for kind, p in self.log:
            replay(con, kind, p)
        out = []
        for name, t in self.tables.items():
            got = t.to_df().toPandas()
            want = con.execute(f"SELECT * FROM {name}").df()
            ok, detail = frames_equal(got, want)
            out.append((f"{name} final state vs DuckDB", ok, detail))
        return out


def commit_rows(table, version: int):
    """Rows in the files a commit added, and in the files it removed
    (looked up in the snapshot before it)."""
    path = os.path.join(table.path, "_delta_log", f"{version:020d}.json")
    added, removed_paths = 0, []
    with open(path) as f:
        for line in f:
            a = json.loads(line)
            if "add" in a:
                added += json.loads(a["add"]["stats"])["numRecords"]
            elif "remove" in a:
                removed_paths.append(a["remove"]["path"])
    prev = table.snapshot(version - 1).files
    removed = sum(json.loads(prev[p]["stats"])["numRecords"] for p in removed_paths)
    return added, removed


def _mtime(path: str):
    try:
        return os.stat(path).st_mtime_ns
    except FileNotFoundError:
        return None


def replay(con, kind: str, p) -> None:
    """Apply one operation to the DuckDB mirror."""
    if kind == "awd":
        con.register("b", p)
        con.execute("INSERT INTO orders SELECT * FROM b WHERE o_orderkey NOT IN"
                    " (SELECT o_orderkey FROM orders)")
    elif kind == "vappend":
        con.register("b", p)
        con.execute("INSERT INTO orders SELECT * FROM b")
    elif kind == "li_append":
        con.register("b", p)
        con.execute("INSERT INTO lineitem SELECT * FROM b")
    elif kind == "scd2":
        con.register("u", p)
        changed = " OR ".join(f"c.{a} <> u.{a}" for a in ATTRS)
        same = " AND ".join(f"c.{a} = u.{a}" for a in ATTRS)
        con.execute("UPDATE customers SET is_current = false, end_time = u.effective_time"
                    " FROM u WHERE customers.c_custkey = u.c_custkey AND customers.is_current"
                    f" AND ({changed.replace('c.', 'customers.')})")
        con.execute("INSERT INTO customers SELECT u.c_custkey, u.c_name, u.c_nationkey,"
                    " u.c_acctbal, u.c_mktsegment, true, u.effective_time, NULL FROM u"
                    " WHERE NOT EXISTS (SELECT 1 FROM customers c WHERE c.c_custkey ="
                    f" u.c_custkey AND c.is_current AND {same})")
        con.unregister("u")
    elif kind == "kill":  # every row of a duplicated key goes
        con.execute("DELETE FROM lineitem USING (SELECT l_orderkey AS k, l_linenumber AS n"
                    " FROM lineitem GROUP BY ALL HAVING count(*) > 1) d"
                    " WHERE l_orderkey = d.k AND l_linenumber = d.n")
    elif kind == "ddp":  # the lowest l_id of a duplicated key survives
        con.execute("DELETE FROM lineitem WHERE l_id IN (SELECT l_id FROM (SELECT l_id,"
                    " row_number() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY"
                    " l_id) AS rn FROM lineitem) WHERE rn > 1)")
    elif kind == "delete":
        con.execute(f"DELETE FROM orders WHERE o_orderkey >= {p[0]} AND o_orderkey < {p[1]}")
    elif kind == "update":
        con.execute(f"UPDATE orders SET o_totalprice = o_totalprice * 1.01,"
                    f" o_orderstatus = 'U' WHERE o_orderkey >= {p[0]} AND o_orderkey < {p[1]}")
