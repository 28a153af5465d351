"""Change Data Feed + CHECK constraints on the open-protocol Delta
table. Contract mirrors Delta's CDF (delta.io protocol spec, 'Add CDC
File' + 'Change Data Files' sections; the reference's substrate exposes
it as ``table_changes``/``readChangeFeed``):

* ``delta.enableChangeDataFeed=true`` bumps minWriterVersion to 4;
* MERGE / DELETE / UPDATE commit ``cdc`` actions pointing at
  ``_change_data/`` parquet with ``_change_type``;
* append / overwrite / restore / insert-only merge write NO cdc files —
  their changes derive exactly from add/remove actions;
* OPTIMIZE (dataChange: false) is invisible to the feed;
* reads add ``_commit_version`` / ``_commit_timestamp``;
* CHECK constraints (writer version 3) are enforced on every write.
"""

import os

import pytest
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
)
from mack_spark.tables import KeyedMerge

SCHEMA = "pkey int, attr string, val int"
CDF = {"delta.enableChangeDataFeed": "true"}


def _mk(spark, tmp_path, rows, name="t", **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    return DeltaProtocolTable.create(
        spark, str(tmp_path / name), df, properties=dict(CDF), **kw
    )


def _changes(t, lo, hi=None):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["pkey"], r["attr"],
         r["val"])
        for r in t.table_changes(lo, hi).collect()
    )


class TestCdfCore:
    def test_cdf_property_bumps_writer_version(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        assert t.snapshot().protocol["minWriterVersion"] == 4
        plain = DeltaProtocolTable.create(
            spark, str(tmp_path / "plain"),
            spark.createDataFrame([(1, "a", 1)], SCHEMA),
        )
        assert plain.snapshot().protocol["minWriterVersion"] == 2

    def test_append_derives_inserts_without_cdc_files(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        t.append(spark.createDataFrame([(2, "b", 20)], SCHEMA))
        assert not any(
            "cdc" in a for a in t._commit_actions(1)
        ), "blind append must not write cdc files"
        assert _changes(t, 1) == [(1, "insert", 2, "b", 20)]

    def test_merge_emits_insert_update_pair_delete(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
        t.merge(
            KeyedMerge(
                source=spark.createDataFrame(
                    [(2, "B2", 22), (3, None, 0), (9, "i", 90)], SCHEMA
                ),
                condition="t.pkey = s.pkey",
                matched_update={"attr": "s.attr", "val": "s.val"},
                matched_update_condition="s.attr is not null",
                matched_delete="s.attr is null",
                not_matched_insert="*",
                target_key_col="pkey",
                source_key_col="pkey",
            )
        )
        assert _changes(t, 1) == [
            (1, "delete", 3, "c", 30),
            (1, "insert", 9, "i", 90),
            (1, "update_postimage", 2, "B2", 22),
            (1, "update_preimage", 2, "b", 20),
        ]
        # cdc actions recorded, files live under _change_data/
        cdc = [a["cdc"] for a in t._commit_actions(1) if "cdc" in a]
        assert cdc and all(c["path"].startswith("_change_data/") for c in cdc)
        # and the table itself never reads change files
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "a", 10), (2, "B2", 22), (9, "i", 90),
        ]

    def test_insert_only_merge_needs_no_cdc(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        t.merge(
            KeyedMerge(
                source=spark.createDataFrame([(1, "x", 0), (5, "e", 50)],
                                             SCHEMA),
                condition="t.pkey = s.pkey",
                not_matched_insert="*",
                target_key_col="pkey",
                source_key_col="pkey",
            )
        )
        assert not any("cdc" in a for a in t._commit_actions(1))
        assert _changes(t, 1) == [(1, "insert", 5, "e", 50)]

    def test_delete_and_update_changes(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
        t.delete_where("pkey = 1")
        t.update_where("pkey = 2", {"val": "val * 10"})
        assert _changes(t, 1) == [
            (1, "delete", 1, "a", 10),
            (2, "update_postimage", 2, "b", 200),
            (2, "update_preimage", 2, "b", 20),
        ]
        # range endpoints honored
        assert _changes(t, 2, 2) == [
            (2, "update_postimage", 2, "b", 200),
            (2, "update_preimage", 2, "b", 20),
        ]

    def test_overwrite_and_restore_derive(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        t.overwrite(spark.createDataFrame([(2, "b", 20)], SCHEMA))
        assert _changes(t, 1, 1) == [
            (1, "delete", 1, "a", 10),
            (1, "insert", 2, "b", 20),
        ]
        t.restore(0)
        assert _changes(t, 2, 2) == [
            (2, "delete", 2, "b", 20),
            (2, "insert", 1, "a", 10),
        ]

    def test_optimize_invisible_to_cdf(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        t.append(spark.createDataFrame([(2, "b", 20)], SCHEMA))
        t.optimize(target_file_bytes=1024 * 1024)
        assert all(v <= 2 for v, *_ in _changes(t, 1)), (
            "dataChange:false compaction must emit no changes"
        )

    def test_commit_metadata_columns(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        t.append(spark.createDataFrame([(2, "b", 20)], SCHEMA))
        row = t.table_changes(1).collect()[0]
        assert row["_commit_version"] == 1
        assert row["_commit_timestamp"] is not None

    def test_disabled_cdf_raises(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "nocdf"),
            spark.createDataFrame([(1, "a", 1)], SCHEMA),
        )
        with pytest.raises(DeltaProtocolError, match="not enabled"):
            t.table_changes(0)

    def test_pre_enablement_rewrite_raises(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "late"),
            spark.createDataFrame(
                [(1, "a", 10), (2, "b", 20)], SCHEMA
            ).coalesce(1),  # ONE file → the delete is a partial rewrite
        )
        t.delete_where("pkey = 1")  # v1: rewrite WITHOUT cdc
        t.set_properties(dict(CDF))  # v2
        assert t.snapshot().protocol["minWriterVersion"] == 4
        with pytest.raises(
            DeltaProtocolError, match="cannot be derived exactly"
        ):
            t.table_changes(1).collect()
        # from enablement onward it works
        t.update_where("pkey = 2", {"val": "0"})
        assert _changes(t, 2) == [
            (3, "update_postimage", 2, "b", 0),
            (3, "update_preimage", 2, "b", 20),
        ]

    def test_empty_range_returns_empty_typed_frame(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        df = t.table_changes(5)
        assert df.count() == 0
        assert df.columns == [
            "pkey", "attr", "val", "_change_type", "_commit_version",
            "_commit_timestamp",
        ]

    def test_streaming_source_ignores_cdc_actions(self, spark, tmp_path):
        """A MERGE commit on a CDF table still carries dataChange
        removes — the streaming source's change-commit rejection and
        skipChangeCommits behavior must be unaffected by the extra cdc
        actions."""
        from mack_spark.streaming.delta_source import register

        register(spark)
        t = _mk(spark, tmp_path, [(1, "a", 10)])
        t.merge(
            KeyedMerge(
                source=spark.createDataFrame([(1, "A", 11)], SCHEMA),
                condition="t.pkey = s.pkey",
                matched_update={"attr": "s.attr", "val": "s.val"},
                not_matched_insert="*",
                target_key_col="pkey",
                source_key_col="pkey",
            )
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            spark.readStream.format("delta_protocol")
            .option("path", t.path)
            .option("skipChangeCommits", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert got == [(1, "a", 10)]  # the rewrite commit was skipped


class TestCheckConstraints:
    def test_add_enforce_drop(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "c"),
            spark.createDataFrame([(1, "a", 10)], SCHEMA),
        )
        t.add_constraint("val_pos", "val > 0")
        assert t.snapshot().protocol["minWriterVersion"] == 3
        with pytest.raises(DeltaProtocolError, match="val_pos"):
            t.append(spark.createDataFrame([(2, "b", -5)], SCHEMA))
        # nothing committed, table unchanged
        assert t.to_df().count() == 1
        # NULL passes (SQL-standard CHECK)
        t.append(spark.createDataFrame([(3, "c", None)], SCHEMA))
        assert t.to_df().count() == 2
        t.drop_constraint("val_pos")
        t.append(spark.createDataFrame([(4, "d", -1)], SCHEMA))
        assert t.to_df().count() == 3

    def test_add_constraint_checks_existing_data(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "c2"),
            spark.createDataFrame([(1, "a", -10)], SCHEMA),
        )
        with pytest.raises(DeltaProtocolError, match="existing rows"):
            t.add_constraint("val_pos", "val > 0")

    def test_update_and_merge_enforce(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "c3"),
            spark.createDataFrame([(1, "a", 10)], SCHEMA),
        )
        t.add_constraint("val_pos", "val > 0")
        with pytest.raises(DeltaProtocolError, match="val_pos"):
            t.update_where("pkey = 1", {"val": "-1"})
        with pytest.raises(DeltaProtocolError, match="val_pos"):
            t.merge(
                KeyedMerge(
                    source=spark.createDataFrame([(9, "x", -9)], SCHEMA),
                    condition="t.pkey = s.pkey",
                    not_matched_insert="*",
                    target_key_col="pkey",
                    source_key_col="pkey",
                )
            )
        assert sorted(map(tuple, t.to_df().collect())) == [(1, "a", 10)]

    def test_foreign_writer3_table_without_constraints_writable(
        self, spark, tmp_path
    ):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "f"),
            spark.createDataFrame([(1, "a", 1)], SCHEMA),
        )
        # simulate a foreign writer-3 protocol bump with no constraints
        t._commit(1, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        ])
        t.append(spark.createDataFrame([(2, "b", 2)], SCHEMA))
        assert t.to_df().count() == 2

    def test_writer6_accepted_writer8_refused(self, spark, tmp_path):
        # round 12 moved the refusal line past writer 6 (identity
        # columns are implemented, tests/test_identity_columns.py);
        # a legacy writer-6 log is writable, anything beyond table
        # features (8+) still refuses loudly
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "w6"),
            spark.createDataFrame([(1, "a", 1)], SCHEMA),
        )
        t._commit(1, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        ])
        t.append(spark.createDataFrame([(2, "b", 2)], SCHEMA))
        assert t.to_df().count() == 2
        t._commit(3, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 8}},
        ])
        with pytest.raises(DeltaProtocolError, match="writer version 8"):
            t.append(spark.createDataFrame([(3, "c", 3)], SCHEMA))

    def test_generated_columns_computed_and_validated(self, spark, tmp_path):
        # writer version 4's other feature: omitted generated columns
        # are COMPUTED on write, provided ones VALIDATED against the
        # generation expression (g <=> expr)
        import json

        t = _mk(spark, tmp_path, [(1, "a", 2)], name="gen")
        snap = t.snapshot()
        schema_json = json.loads(snap.metadata["schemaString"])
        schema_json["fields"][2]["metadata"] = {
            "delta.generationExpression": "pkey * 2"
        }
        meta = dict(snap.metadata, schemaString=json.dumps(schema_json))
        t._commit(1, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"metaData": meta},
        ])
        # omitted -> computed
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "a", 2), (2, "b", 4),
        ]
        # provided and correct -> accepted
        t.append(spark.createDataFrame([(3, "c", 6)], SCHEMA))
        # provided and WRONG -> refused, nothing committed
        with pytest.raises(DeltaProtocolError, match="generated column"):
            t.append(spark.createDataFrame([(4, "d", 99)], SCHEMA))
        assert t.to_df().count() == 3
        # UPDATE recomputes the generated column from the new pkey
        t.update_where("pkey = 3", {"pkey": "30"})
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "a", 2), (2, "b", 4), (30, "c", 60),
        ]
        # direct assignment to a generated column is refused
        with pytest.raises(ValueError, match="generated"):
            t.update_where("pkey = 1", {"val": "5"})


class TestCdfPartitioned:
    def test_partitioned_table_changes(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "x", 10), (2, "y", 20), (3, "x", 30)],
            "pkey int, part string, val int",
        )
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "p"), df,
            partition_by=["part"], properties=dict(CDF),
        )
        t.delete_where("pkey = 1")
        t.update_where("pkey = 2", {"val": "21"})
        got = sorted(
            (r["_commit_version"], r["_change_type"], r["pkey"], r["part"],
             r["val"])
            for r in t.table_changes(1).collect()
        )
        assert got == [
            (1, "delete", 1, "x", 10),
            (2, "update_postimage", 2, "y", 21),
            (2, "update_preimage", 2, "y", 20),
        ]


class TestConstraintAppendProtocol:
    def test_split_semantics(self, spark, tmp_path):
        from mack_spark.appends import constraint_append

        base = spark.createDataFrame([(1, "a", 10)], SCHEMA)
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "t"), base,
            properties={"delta.constraints.val_pos": "val > 0"},
        )
        quar = DeltaProtocolTable.create(
            spark, str(tmp_path / "q"), base.limit(0)
        )
        batch = spark.createDataFrame(
            [(2, "pass", 5), (3, "violate", -5), (4, "null", None)], SCHEMA
        )
        constraint_append(t, batch, quar)
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "a", 10), (2, "pass", 5),
        ]
        # NULL falls out of both (three-valued logic)
        assert sorted(map(tuple, quar.to_df().collect())) == [
            (3, "violate", -5)
        ]

    def test_no_constraints_raises_typeerror(self, spark, tmp_path):
        from mack_spark.appends import constraint_append

        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "n"),
            spark.createDataFrame([(1, "a", 1)], SCHEMA),
        )
        with pytest.raises(TypeError, match="no constraints"):
            constraint_append(
                t, spark.createDataFrame([(2, "b", 2)], SCHEMA), None
            )

    def test_none_quarantine_drops_violators(self, spark, tmp_path):
        from mack_spark.appends import constraint_append

        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "d"),
            spark.createDataFrame([(1, "a", 1)], SCHEMA),
            properties={"delta.constraints.val_pos": "val > 0"},
        )
        constraint_append(
            t,
            spark.createDataFrame([(2, "b", 2), (3, "bad", -3)], SCHEMA),
            None,
        )
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "a", 1), (2, "b", 2),
        ]


class TestTableChangesTimestamps:
    def test_timestamp_bounds_resolve_like_versions(self, spark, tmp_path):
        # Delta's startingTimestamp/endingTimestamp on the batch CDF
        # read: start = first commit at/after, end = last commit
        # at/before (monotonized commit times)
        t = _mk(spark, tmp_path, [(1, "a", 1)], name="ts")
        t.append(spark.createDataFrame([(2, "b", 2)], SCHEMA))
        t.append(spark.createDataFrame([(3, "c", 3)], SCHEMA))
        hist = {h["version"]: h["timestamp"] for h in t.history()}
        by_version = t.table_changes(1, 2).collect()
        by_ts = t.table_changes(
            starting_timestamp=hist[1], ending_timestamp=hist[2]
        ).collect()
        key = lambda r: (r["_commit_version"], r["pkey"])  # noqa: E731
        assert sorted(map(key, by_ts)) == sorted(map(key, by_version))

    def test_mixed_bounds_refused(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a", 1)], name="mx")
        with pytest.raises(ValueError, match="not both"):
            t.table_changes(0, starting_timestamp=0)
        with pytest.raises(ValueError, match="needs starting"):
            t.table_changes()


class TestCdfPlanShape:
    # slow (~15 s): many-commit scale shape; small-range CDF plan tests remain default
    @pytest.mark.slow
    def test_many_commit_range_plans_few_scans(self, spark, tmp_path):
        """r13: a long CDF range groups change files and plain derived
        inserts into ONE scan each (per-file commit metadata attached
        via a broadcast file→commit map) instead of a per-version
        union leg — a thousands-commit catch-up must not become a
        thousands-legged plan."""
        t = _mk(spark, tmp_path, [(0, "a", 0)])
        for i in range(20):  # 20 derived-insert commits
            t.append(spark.createDataFrame(
                [(100 + i, "b", i)], SCHEMA
            ))
        for i in range(4):   # 4 cdc-writing commits
            t.delete_where(f"pkey = {100 + i}")
        df = t.table_changes(starting_version=0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("FileScan") + plan.count("Scan parquet")
        assert n_scans <= 6, f"{n_scans} scan nodes for a 25-commit range"
        # values are unchanged by the plan shape: per-commit versions
        # still attach row-exactly
        got = {
            (r["pkey"], r["_change_type"], r["_commit_version"])
            for r in df.collect()
        }
        assert (100, "insert", 1) in got
        assert (100, "delete", 21) in got
        assert len(got) == 1 + 20 + 4
