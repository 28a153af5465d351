"""Round-13: MERGE ``whenNotMatchedBySource`` clauses (delta-spark
2.3+): target rows NO source row matched take update-then-delete
(first applicable wins), expressions reference the target alias only.
Key pruning is invalid for these merges (unmatched rows live in every
file), so the touched set is the full live file list and any
interleaved concurrent append conflicts — both delta-spark's own
behavior.
"""

import pytest
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
)
from mack_spark.tables import KeyedMerge

SCHEMA = "pkey int, status string, v int"


def _mk(spark, tmp_path, name="t", props=None, n=10):
    df = spark.createDataFrame(
        [(i, "old", 1) for i in range(n)], SCHEMA
    )
    return DeltaProtocolTable.create(
        spark, str(tmp_path / name), df, properties=props or {}
    )


def _km(src, **kw):
    return KeyedMerge(
        source=src, condition="t.pkey = s.pkey",
        target_alias="t", source_alias="s",
        target_key_col="pkey", source_key_col="pkey", **kw,
    )


class TestNmsSemantics:
    def test_full_sync_merge(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "upd", 2), (20, "new", 2)], SCHEMA
        )
        res = t.merge(_km(
            src,
            matched_update={"status": "s.status", "v": "s.v"},
            not_matched_insert="*",
            not_matched_by_source_update={"status": "'stale'"},
            not_matched_by_source_update_condition="t.pkey >= 5",
            not_matched_by_source_delete=True,
        ))
        # nms clauses read every file — no key pruning
        assert res["touched_files"] == res["total_files"]
        rows = {r["pkey"]: r["status"] for r in t.to_df().collect()}
        assert rows == {
            3: "upd", 5: "stale", 6: "stale", 7: "stale",
            8: "stale", 9: "stale", 20: "new",
        }

    def test_update_clause_order_first_applicable(self, spark, tmp_path):
        # update applies before delete; only non-updated rows delete
        t = _mk(spark, tmp_path, n=6)
        t.merge(_km(
            spark.createDataFrame([(0, "m", 2)], SCHEMA),
            matched_update={"status": "s.status"},
            not_matched_by_source_update={"status": "'kept'"},
            not_matched_by_source_update_condition="t.pkey % 2 = 0",
            not_matched_by_source_delete=True,
        ))
        rows = {r["pkey"]: r["status"] for r in t.to_df().collect()}
        assert rows == {0: "m", 2: "kept", 4: "kept"}

    def test_empty_source_is_not_a_noop(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=5)
        empty = spark.createDataFrame([], SCHEMA)
        t.merge(_km(
            empty,
            matched_update={"status": "s.status"},
            not_matched_by_source_delete=True,
        ))
        assert t.to_df().count() == 0

    def test_conditional_delete_only(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=8)
        t.merge(_km(
            spark.createDataFrame([(7, "m", 2)], SCHEMA),
            matched_update={"status": "s.status"},
            not_matched_by_source_delete="t.pkey < 3",
        ))
        rows = sorted(r["pkey"] for r in t.to_df().collect())
        assert rows == [3, 4, 5, 6, 7]

    def test_cdf_records_nms_changes(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=4,
                props={"delta.enableChangeDataFeed": "true"})
        t.merge(_km(
            spark.createDataFrame([(0, "m", 2)], SCHEMA),
            matched_update={"status": "s.status"},
            not_matched_by_source_update={"status": "'stale'"},
            not_matched_by_source_update_condition="t.pkey = 1",
            not_matched_by_source_delete="t.pkey = 2",
        ))
        ch = {
            (r["pkey"], r["_change_type"])
            for r in t.table_changes(starting_version=1).collect()
        }
        assert (1, "update_preimage") in ch
        assert (1, "update_postimage") in ch
        assert (2, "delete") in ch
        assert not any(p == 3 for p, _c in ch)  # untouched row: silent

    def test_row_tracking_preserved(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=6,
                props={"delta.enableRowTracking": "true"})
        before = {
            r["pkey"]: r["_row_id"]
            for r in t.to_df(with_row_ids=True).collect()
        }
        t.merge(_km(
            spark.createDataFrame([(0, "m", 2)], SCHEMA),
            matched_update={"status": "s.status"},
            not_matched_by_source_update={"status": "'stale'"},
        ))
        after = {
            r["pkey"]: r["_row_id"]
            for r in t.to_df(with_row_ids=True).collect()
        }
        assert after == before

    def test_identity_assignment_refused(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a")], "pkey int, attr string")
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "idt"), df,
            identity={"rid": {"start": 1, "step": 1}},
        )
        src = spark.createDataFrame([(1, "b")], "pkey int, attr string")
        with pytest.raises(DeltaProtocolError, match="identity"):
            t.merge(KeyedMerge(
                source=src, condition="t.pkey = s.pkey",
                target_alias="t", source_alias="s",
                matched_update={"attr": "s.attr"},
                not_matched_by_source_update={"rid": "0"},
                target_key_col="pkey", source_key_col="pkey",
            ))


class TestNmsCompilerAndSeam:
    def test_concurrent_append_conflicts(self, spark, tmp_path):
        from mack_spark.tables import ConcurrentModificationError

        t = _mk(spark, tmp_path, n=4)
        # pre-write the NEXT version file to simulate an interleaved
        # blind append landing between snapshot and commit
        victim = DeltaProtocolTable(spark, t.path)
        snap = victim.snapshot()
        t.append(spark.createDataFrame([(100, "x", 1)], SCHEMA))

        import mack_spark.sources.delta_log as dl

        km = _km(
            spark.createDataFrame([(0, "m", 2)], SCHEMA),
            matched_update={"status": "s.status"},
            not_matched_by_source_delete=True,
        )
        # force the merge to plan against the stale snapshot
        orig = dl.DeltaProtocolTable.snapshot
        calls = {"n": 0}

        def stale_once(self, version_as_of=None):
            calls["n"] += 1
            if calls["n"] == 1:
                return snap
            return orig(self, version_as_of)

        dl.DeltaProtocolTable.snapshot = stale_once
        try:
            with pytest.raises(ConcurrentModificationError):
                victim.merge(km)
        finally:
            dl.DeltaProtocolTable.snapshot = orig


class TestMergeSchemaEvolution:
    """r13: merge(schema_evolution=True) — delta's autoMerge: source
    columns absent from the target append as nullable fields in the
    SAME commit; old rows read NULL, inserts carry source values."""

    def _t(self, spark, tmp_path, name="evo"):
        return DeltaProtocolTable.create(
            spark, str(tmp_path / name),
            spark.createDataFrame(
                [(i, "old") for i in range(6)], "pkey int, attr string"
            ),
        )

    def _km(self, src, **kw):
        return KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            target_alias="t", source_alias="s",
            target_key_col="pkey", source_key_col="pkey", **kw,
        )

    def test_evolves_and_null_fills(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "upd", 9.5), (20, "new", 1.5)],
            "pkey int, attr string, score double",
        )
        t.merge(self._km(
            src, matched_update={"attr": "s.attr"},
            not_matched_insert="*",
        ), schema_evolution=True)
        df = t.to_df()
        assert [f.name for f in df.schema.fields] == [
            "pkey", "attr", "score",
        ]
        rows = {r["pkey"]: (r["attr"], r["score"]) for r in df.collect()}
        assert rows[20] == ("new", 1.5)
        assert rows[3] == ("upd", None)
        assert rows[0] == ("old", None)
        # evolution landed ATOMICALLY with the data: one commit
        assert t.snapshot().version == 1
        # and future appends enforce the evolved schema
        t.append(spark.createDataFrame(
            [(99, "z", 2.0)], "pkey int, attr string, score double"
        ))
        assert t.to_df().count() == 8

    def test_no_new_columns_is_plain_merge(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame(
            [(0, "u")], "pkey int, attr string"
        )
        t.merge(self._km(
            src, matched_update={"attr": "s.attr"},
            not_matched_insert="*",
        ), schema_evolution=True)
        assert [f.name for f in t.snapshot().schema.fields] == [
            "pkey", "attr",
        ]

    def test_default_does_not_evolve(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame(
            [(20, "new", 1.5)], "pkey int, attr string, score double"
        )
        t.merge(self._km(src, not_matched_insert="*"))
        assert "score" not in t.to_df().columns

    def test_requires_star_insert(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame(
            [(20, "new", 1.5)], "pkey int, attr string, score double"
        )
        with pytest.raises(DeltaProtocolError, match="INSERT"):
            t.merge(self._km(
                src,
                not_matched_insert={"pkey": "s.pkey", "attr": "s.attr"},
            ), schema_evolution=True)


class TestMergeUpdateAll:
    """r14: ``matched_update="*"`` (delta's whenMatchedUpdateAll /
    UPDATE SET *) — every target column takes the same-named source
    column when the source carries one, else keeps its value; with
    ``schema_evolution=True`` it is a star clause that triggers
    evolution (delta's SET*/INSERT* rule), and column-mapped tables
    evolve with fresh field ids + col-<uuid> physical names."""

    def _t(self, spark, tmp_path, name="ua", **kw):
        return DeltaProtocolTable.create(
            spark, str(tmp_path / name),
            spark.createDataFrame(
                [(i, "old", 1) for i in range(6)], SCHEMA
            ), **kw,
        )

    def test_update_all_plain(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame([(2, "upd", 9)], SCHEMA)
        t.merge(_km(src, matched_update="*"))
        rows = {r["pkey"]: (r["status"], r["v"]) for r in t.to_df().collect()}
        assert rows[2] == ("upd", 9)
        assert rows[0] == ("old", 1)
        assert len(rows) == 6  # no insert clause: source row 2 updates only

    def test_update_all_source_missing_column_keeps_target(
        self, spark, tmp_path
    ):
        t = self._t(spark, tmp_path)
        # source lacks `v`: SET * updates status, keeps v
        src = spark.createDataFrame([(3, "upd")], "pkey int, status string")
        t.merge(_km(src, matched_update="*"))
        rows = {r["pkey"]: (r["status"], r["v"]) for r in t.to_df().collect()}
        assert rows[3] == ("upd", 1)

    def test_update_all_evolves(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, "upd", 2, 7.5), (99, "noins", 0, 1.0)],
            SCHEMA + ", score double",
        )
        t.merge(_km(src, matched_update="*"), schema_evolution=True)
        df = t.to_df()
        assert [f.name for f in df.schema.fields] == [
            "pkey", "status", "v", "score",
        ]
        rows = {r["pkey"]: (r["status"], r["score"]) for r in df.collect()}
        assert rows[1] == ("upd", 7.5)     # updated row carries new col
        assert rows[0] == ("old", None)    # untouched row NULL-fills
        assert 99 not in rows              # no insert clause
        assert t.snapshot().version == 1   # evolution + data atomic

    def test_update_all_with_insert_star(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, "upd", 2, 7.5), (99, "new", 0, 1.0)],
            SCHEMA + ", score double",
        )
        t.merge(
            _km(src, matched_update="*", not_matched_insert="*"),
            schema_evolution=True,
        )
        rows = {
            r["pkey"]: (r["status"], r["score"])
            for r in t.to_df().collect()
        }
        assert rows[1] == ("upd", 7.5)
        assert rows[99] == ("new", 1.0)
        assert rows[0] == ("old", None)

    def test_update_all_condition(self, spark, tmp_path):
        t = self._t(spark, tmp_path)
        src = spark.createDataFrame([(0, "u0", 5), (1, "u1", 9)], SCHEMA)
        t.merge(_km(
            src, matched_update="*",
            matched_update_condition="s.v > 6",
        ))
        rows = {r["pkey"]: r["status"] for r in t.to_df().collect()}
        assert rows[1] == "u1"
        assert rows[0] == "old"  # condition false: kept

    def test_update_all_identity_refused(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "idua"),
            spark.createDataFrame([(1, "a")], "pkey int, attr string"),
            identity={"rid": {"start": 1, "step": 1}},
        )
        src = spark.createDataFrame([(1, "b")], "pkey int, attr string")
        with pytest.raises(DeltaProtocolError, match="identity"):
            t.merge(_km(src, matched_update="*"))

    def test_update_all_row_tracking_preserved(self, spark, tmp_path):
        t = self._t(spark, tmp_path, name="uart",
                    properties={"delta.enableRowTracking": "true"})
        before = {
            r["pkey"]: r["_row_id"]
            for r in t.to_df(with_row_ids=True).collect()
        }
        t.merge(_km(
            spark.createDataFrame([(0, "m", 2)], SCHEMA),
            matched_update="*",
        ))
        after = {
            r["pkey"]: r["_row_id"]
            for r in t.to_df(with_row_ids=True).collect()
        }
        assert after == before
        rows = {r["pkey"]: r["status"] for r in t.to_df().collect()}
        assert rows[0] == "m"


class TestMergeEvolutionMapped:
    """r14: schema evolution on COLUMN-MAPPED tables — new fields get
    fresh mapping ids and col-<uuid> physical names (the add_column
    assignment), maxColumnId bumps in the same metaData action."""

    def test_mapped_evolution(self, spark, tmp_path):
        import sys
        sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
        from test_column_mapping_rw import _mk_name_mode_rw

        t, phys = _mk_name_mode_rw(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, "X", 9.5), (44, "new", 1.5)],
            "k int, v string, score double",
        )
        t.merge(KeyedMerge(
            source=src, condition="t.k = s.k",
            target_alias="t", source_alias="s",
            matched_update="*", not_matched_insert="*",
            target_key_col="k", source_key_col="k",
        ), schema_evolution=True)
        df = t.to_df()
        assert [f.name for f in df.schema.fields] == ["k", "v", "p", "score"]
        rows = {r["k"]: (r["v"], r["score"]) for r in df.collect()}
        assert rows[1] == ("X", 9.5)
        assert rows[44] == ("new", 1.5)
        assert rows[2] == ("y", None)  # untouched: NULL-fills
        # the evolved field carries fresh mapping metadata
        import json as _json
        snap = t.snapshot()
        fields = _json.loads(snap.metadata["schemaString"])["fields"]
        new = [f for f in fields if f["name"] == "score"][0]
        md = new["metadata"]
        assert md["delta.columnMapping.id"] == 4
        assert md["delta.columnMapping.physicalName"].startswith("col-")
        cfg = snap.metadata["configuration"]
        assert cfg["delta.columnMapping.maxColumnId"] == "4"
        # appends after evolution enforce + map the evolved schema
        t.append(spark.createDataFrame(
            [(77, "z", "p3", 2.0)], "k int, v string, p string, score double"
        ))
        assert t.to_df().where("k = 77").collect()[0]["score"] == 2.0
