"""DeltaProtocolTable: real Delta-Lake-protocol commits (JSON log +
parquet + checkpoints) without delta-spark — closes the r6 VERDICT #1
gap where KeyedMerge execution was verified only against a recording
fake. Every test here drives actual ``_delta_log`` transactions."""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import (
    CHECKPOINT_INTERVAL,
    DeltaProtocolTable,
    DeltaSnapshot,
)
from mack_spark.tables import ConcurrentModificationError


def _mk(spark, tmp_path, rows, schema="pkey int, attr string", **kw):
    df = spark.createDataFrame(rows, schema)
    return DeltaProtocolTable.create(spark, str(tmp_path / "t"), df, **kw)


class TestReadWrite:
    def test_create_roundtrip_and_log_shape(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [(1, "a"), (2, "b")]
        # version-0 commit exists and carries protocol/metaData/add
        log = os.path.join(t.path, "_delta_log", "%020d.json" % 0)
        kinds = [next(iter(json.loads(l))) for l in open(log) if l.strip()]
        assert kinds[:3] == ["commitInfo", "protocol", "metaData"]
        assert "add" in kinds
        # add paths are relative and stats-bearing
        snap = t.snapshot()
        for p, a in snap.files.items():
            assert not p.startswith("/")
            st = json.loads(a["stats"])
            assert st["numRecords"] >= 1 and "pkey" in st["minValues"]

    def test_append_and_history(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        t.append(spark.createDataFrame([(3, "c")], "pkey int, attr string"))
        assert t.snapshot().version == 2
        assert t.to_df().count() == 3
        ops = [h["operation"] for h in t.history()]
        assert ops == ["WRITE", "WRITE", "CREATE TABLE AS SELECT"]

    def test_overwrite_and_time_travel(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
        t.overwrite(spark.createDataFrame([(9, "z")], "pkey int, attr string"))
        assert sorted(map(tuple, t.to_df().collect())) == [(9, "z")]
        # version 0 is still readable: the old files were removed from
        # the snapshot, never deleted from disk
        old = t.to_df(version_as_of=0)
        assert sorted(map(tuple, old.collect())) == [(1, "a"), (2, "b")]

    def test_partitioned_table(self, spark, tmp_path):
        rows = [(i, "x" if i % 2 else "y", i * 1.5) for i in range(10)]
        df = spark.createDataFrame(rows, "pkey int, part string, val double")
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "p"), df, partition_by=["part"]
        )
        snap = t.snapshot()
        assert snap.partition_columns == ["part"]
        assert all(
            a["partitionValues"].get("part") in ("x", "y")
            for a in snap.files.values()
        )
        back = t.to_df()
        assert [f.name for f in back.schema.fields] == ["pkey", "part", "val"]
        assert sorted(map(tuple, back.collect())) == sorted(rows)

    def test_empty_table_read(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.overwrite(
            spark.createDataFrame([], "pkey int, attr string")
        )
        out = t.to_df()
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["pkey", "attr"]

    def test_concurrent_commit_conflict(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        # another writer claims version 1 inside our snapshot->commit
        # window; the O_EXCL put-if-absent rule must lose loudly
        with open(os.path.join(t.path, "_delta_log", "%020d.json" % 1), "w") as fh:
            fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
        with pytest.raises(ConcurrentModificationError):
            t._commit(1, [{"commitInfo": {"operation": "WRITE"}}])

    def test_append_retries_past_lost_race(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        # a foreign commit already took version 1: a blind append must
        # re-read the head and land on version 2, not fail
        with open(os.path.join(t.path, "_delta_log", "%020d.json" % 1), "w") as fh:
            fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        assert t.snapshot().version == 2
        assert t.to_df().count() == 2


class TestCheckpoint:
    def test_checkpoint_written_and_used(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(0, "r0")])
        for i in range(1, CHECKPOINT_INTERVAL + 2):
            t.append(
                spark.createDataFrame([(i, f"r{i}")], "pkey int, attr string")
            )
        log = os.path.join(t.path, "_delta_log")
        cp = "%020d.checkpoint.parquet" % CHECKPOINT_INTERVAL
        assert os.path.exists(os.path.join(log, cp))
        assert json.load(open(os.path.join(log, "_last_checkpoint")))[
            "version"
        ] == CHECKPOINT_INTERVAL
        # replay must go through the checkpoint: delete the pre-
        # checkpoint JSON commits and the table must still read fully
        for v in range(CHECKPOINT_INTERVAL + 1):
            os.remove(os.path.join(log, "%020d.json" % v))
        assert t.to_df().count() == CHECKPOINT_INTERVAL + 2
        assert t.snapshot().version == CHECKPOINT_INTERVAL + 1


class TestMerge:
    def _table(self, spark, tmp_path, n=100, files=4):
        df = (
            spark.range(n)
            .select(
                F.col("id").cast("int").alias("pkey"),
                F.concat(F.lit("v"), F.col("id")).alias("attr"),
            )
            .repartitionByRange(files, "pkey")
            .sortWithinPartitions("pkey")
        )
        return DeltaProtocolTable.create(spark, str(tmp_path / "m"), df)

    def test_upsert_merge_semantics_and_pruning(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t = self._table(spark, tmp_path)
        snap0 = t.snapshot()
        assert len(snap0.files) == 4
        src = spark.createDataFrame(
            [(3, "NEW3"), (7, "NEW7"), (200, "INS200")], "pkey int, attr string"
        )
        km = KeyedMerge(
            source=src,
            condition="t.pkey = s.pkey",
            matched_update={"attr": "s.attr"},
            not_matched_insert="*",
            target_key_col="pkey",
            source_key_col="pkey",
        )
        res = t.merge(km)
        # exact key-set skipping: keys {3, 7, 200} live in the first
        # file's range only (200 is past every file's max), so the
        # three middle/upper files are untouched
        assert res["touched_files"] == 1 and res["total_files"] == 4
        out = {r["pkey"]: r["attr"] for r in t.to_df().collect()}
        assert len(out) == 101
        assert out[3] == "NEW3" and out[7] == "NEW7" and out[200] == "INS200"
        assert out[50] == "v50"
        # untouched files were NOT rewritten: their add entries survive
        snap1 = t.snapshot()
        surviving = set(snap0.files) & set(snap1.files)
        assert len(surviving) == 4 - res["touched_files"] == 3

    def test_narrow_key_range_prunes_hard(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t = self._table(spark, tmp_path)
        src = spark.createDataFrame([(1, "X")], "pkey int, attr string")
        km = KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            matched_update={"attr": "s.attr"}, not_matched_insert="*",
            target_key_col="pkey", source_key_col="pkey",
        )
        res = t.merge(km)
        assert res["touched_files"] == 1  # single-key batch touches one file
        assert t.to_df().filter("pkey = 1").collect()[0]["attr"] == "X"

    def test_scd2_keyed_merge_on_delta(self, spark, tmp_path):
        """The reference's whole semantic core — SCD2 through a native
        MERGE (reference mack/__init__.py:125-139) — executed as a real
        Delta-protocol commit, checked against the parquet-backend
        post-state plan on the same inputs."""
        import datetime

        from mack_spark.scd import scd2_keyed_merge, scd2_post_state

        base_rows = [
            (1, "A", True, datetime.datetime(2020, 1, 1), None),
            (2, "B", True, datetime.datetime(2020, 1, 1), None),
            (3, "C", True, datetime.datetime(2020, 1, 1), None),
        ]
        schema = (
            "pkey int, attr string, is_current boolean, "
            "effective_time timestamp, end_time timestamp"
        )
        base = spark.createDataFrame(base_rows, schema)
        updates = spark.createDataFrame(
            [
                (2, "B2", True, datetime.datetime(2021, 6, 1), None),
                (4, "D", True, datetime.datetime(2021, 6, 1), None),
            ],
            schema,
        ).select("pkey", "attr", "effective_time")
        t = DeltaProtocolTable.create(spark, str(tmp_path / "scd"), base)
        km = scd2_keyed_merge(
            base, updates, "pkey", ["attr"], "is_current",
            "effective_time", "end_time",
        )
        t.merge(km)
        got = sorted(
            map(tuple, t.to_df().collect()), key=lambda r: (r[0], str(r[3]))
        )
        want = sorted(
            map(
                tuple,
                scd2_post_state(
                    base, updates, "pkey", ["attr"], "is_current",
                    "effective_time", "end_time",
                ).collect(),
            ),
            key=lambda r: (r[0], str(r[3])),
        )
        assert got == want
        assert [h["operation"] for h in t.history()][0] == "MERGE"


class TestMergeMetrics:
    def test_history_reports_num_source_rows(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
        src = spark.createDataFrame(
            [(2, "B"), (3, "c"), (None, "n")], "pkey int, attr string"
        )
        t.merge(KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            matched_update={"attr": "s.attr"}, not_matched_insert="*",
            target_key_col="pkey", source_key_col="pkey",
        ))
        m = t.history()[0]["operationMetrics"]
        assert m["numSourceRows"] == 3
        # insert-only merges commit add-only, with the same metric
        t.merge(KeyedMerge(
            source=src.where("pkey IS NOT NULL"),
            condition="t.pkey = s.pkey", not_matched_insert="*",
            target_key_col="pkey", source_key_col="pkey",
        ))
        m = t.history()[0]["operationMetrics"]
        assert m["numSourceRows"] == 2
        assert m["numTargetFilesRemoved"] == 0

    def test_size_hint_prices_rows_from_files_with_stats(self):
        """A file without ``numRecords`` adds its bytes to the rewrite
        but must not dilute the bytes/row that prices incoming rows."""
        snap = DeltaSnapshot(
            1, {}, {},
            {
                "a": {"size": 1000, "stats": json.dumps({"numRecords": 10})},
                "b": {"size": 5000},
            },
        )
        hint = DeltaProtocolTable._rewrite_size_hint
        assert hint(None, snap, ["a", "b"], extra_rows=10) == 7000
        assert hint(
            None, snap, ["a", "b"], extra_rows=10, include_base=False
        ) == 1000
        assert hint(None, snap, ["b"], extra_rows=10) is None
        assert hint(None, snap, ["a", "b"]) == 6000


class TestSchemaEnforcement:
    def test_drifted_append_raises(self, spark, tmp_path):
        from mack_spark.sources.delta_log import DeltaProtocolError

        t = _mk(spark, tmp_path, [(1, "a")])
        with pytest.raises(DeltaProtocolError, match="extra columns"):
            t.append(
                spark.createDataFrame(
                    [(2, "b", 1.0)], "pkey int, attr string, extra double"
                )
            )
        with pytest.raises(DeltaProtocolError, match="missing columns"):
            t.append(spark.createDataFrame([(2,)], "pkey int"))
        with pytest.raises(DeltaProtocolError, match="type"):
            t.append(
                spark.createDataFrame([(2, "b")], "pkey bigint, attr string")
            )
        # nothing committed, nothing written
        assert t.snapshot().version == 0
        assert t.to_df().count() == 1

    def test_append_reorders_columns_by_name(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.append(
            spark.createDataFrame([("b", 2)], "attr string, pkey int")
        )
        assert sorted(map(tuple, t.to_df().collect())) == [(1, "a"), (2, "b")]

    def test_merge_schema_evolves_and_time_travels(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.append(
            spark.createDataFrame(
                [(2, "b", 9.5)], "pkey int, attr string, score double"
            ),
            merge_schema=True,
        )
        snap = t.snapshot()
        assert [f.name for f in snap.schema.fields] == ["pkey", "attr", "score"]
        got = sorted(map(tuple, t.to_df().collect()))
        # pre-evolution file reads the new column as NULL
        assert got == [(1, "a", None), (2, "b", 9.5)]
        # time travel to version 0 still shows the ORIGINAL schema
        old = t.to_df(version_as_of=0)
        assert [f.name for f in old.schema.fields] == ["pkey", "attr"]
        assert sorted(map(tuple, old.collect())) == [(1, "a")]
        # a frame missing a committed column under merge_schema: filled NULL
        t.append(
            spark.createDataFrame([(3, "c")], "pkey int, attr string"),
            merge_schema=True,
        )
        assert t.snapshot().version == 2
        assert sorted(map(tuple, t.to_df().collect()))[2] == (3, "c", None)

    def test_merge_schema_overwrite(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.overwrite(
            spark.createDataFrame(
                [(9, "z", True)], "pkey int, attr string, flag boolean"
            ),
            merge_schema=True,
        )
        assert sorted(map(tuple, t.to_df().collect())) == [(9, "z", True)]
        assert [f.name for f in t.snapshot().schema.fields] == [
            "pkey", "attr", "flag",
        ]


class TestProtocolGates:
    def _bump(self, t, **proto):
        v = t.snapshot().version + 1
        with open(os.path.join(t.path, "_delta_log", "%020d.json" % v), "w") as fh:
            fh.write(json.dumps({"protocol": proto}) + "\n")

    def test_writer_version_8_refuses_commits(self, spark, tmp_path):
        # writer 3 (constraints), 4 (CDF), 5 (column mapping writes,
        # round 11), 6 (identity columns, round 12 —
        # tests/test_identity_columns.py), and 7 with supported
        # features are implemented — the refusal line is writer >7
        from mack_spark.sources.delta_log import DeltaProtocolError

        t = _mk(spark, tmp_path, [(1, "a")])
        self._bump(t, minReaderVersion=1, minWriterVersion=8)
        df = spark.createDataFrame([(2, "b")], "pkey int, attr string")
        for op in (
            lambda: t.append(df),
            lambda: t.overwrite(df),
            lambda: t.delete_where("pkey = 1"),
            lambda: t.update_where("pkey = 1", {"attr": "'x'"}),
        ):
            with pytest.raises(DeltaProtocolError, match="writer version"):
                op()
        # reads still work — writer features don't gate readers
        assert t.to_df().count() == 1

    def test_writer_version_6_now_writable(self, spark, tmp_path):
        # a legacy writer-6 log without identity columns in the schema
        # commits normally (identity generation is implemented)
        t = _mk(spark, tmp_path, [(1, "a")])
        self._bump(t, minReaderVersion=1, minWriterVersion=6)
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        assert t.to_df().count() == 2

    def test_writer_version_5_unmapped_now_writable(self, spark, tmp_path):
        # a (nonconforming) writer-5 log WITHOUT column mapping is
        # writable — mapping itself is what gates behavior, not the
        # version number alone
        t = _mk(spark, tmp_path, [(1, "a")])
        self._bump(t, minReaderVersion=1, minWriterVersion=5)
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        assert t.to_df().count() == 2

    def test_writer_version_4_now_writable(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        self._bump(t, minReaderVersion=1, minWriterVersion=4)
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        assert t.to_df().count() == 2

    def test_reader_feature_gates(self, spark, tmp_path):
        # reader 3 (table features) became conditionally readable in
        # round 10: accepted iff every declared readerFeature is
        # implemented (deletionVectors / columnMapping / timestampNtz
        # — tests/test_deletion_vectors.py); unknown features and
        # reader 4+ stay refused
        import json as _json

        from mack_spark.sources.delta_log import DeltaProtocolError

        t = _mk(spark, tmp_path, [(1, "a")])
        snap = t.snapshot()
        t._commit(snap.version + 1, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
        ])
        assert t.to_df().count() == 1  # supported feature set: readable
        t._commit(snap.version + 2, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors",
                                             "someFutureFeature"],
                          "writerFeatures": []}},
        ])
        with pytest.raises(DeltaProtocolError, match="someFutureFeature"):
            t.to_df()
        t._commit(snap.version + 3, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}},
        ])
        with pytest.raises(DeltaProtocolError, match="reader version"):
            t.to_df()

    def test_id_mapping_without_field_ids_rejected(self, spark, tmp_path):
        # 'id' mode became READ-supported in round 11 (Spark-native
        # parquet field-id resolution, TestColumnMappingIdRead in
        # test_column_mapping_rw.py) — but a log that declares mode
        # 'id' while its schema fields carry NO delta.columnMapping.id
        # cannot be resolved and must refuse instead of misreading
        from mack_spark.sources.delta_log import DeltaProtocolError

        t = _mk(spark, tmp_path, [(1, "a")])
        snap = t.snapshot()
        meta = dict(
            snap.metadata,
            configuration={"delta.columnMapping.mode": "id"},
        )
        v = snap.version + 1
        with open(os.path.join(t.path, "_delta_log", "%020d.json" % v), "w") as fh:
            fh.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                              "minWriterVersion": 5}}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
        with pytest.raises(DeltaProtocolError, match="column mapping"):
            t.to_df()


class TestDeleteUpdate:
    def _table(self, spark, tmp_path, n=100, files=4):
        df = (
            spark.range(n)
            .select(
                F.col("id").cast("int").alias("pkey"),
                F.concat(F.lit("v"), F.col("id")).alias("attr"),
            )
            .repartitionByRange(files, "pkey")
            .sortWithinPartitions("pkey")
        )
        return DeltaProtocolTable.create(spark, str(tmp_path / "d"), df)

    def test_delete_where_prunes_untouched_files(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        snap0 = t.snapshot()
        inodes0 = {
            p: os.stat(os.path.join(t.path, p)).st_ino for p in snap0.files
        }
        res = t.delete_where("pkey between 10 and 14")
        assert res["touched_files"] == 1 and res["total_files"] == 4
        assert t.to_df().count() == 95
        assert t.to_df().filter("pkey between 10 and 14").count() == 0
        # the three untouched files: same log entries, same inodes
        snap1 = t.snapshot()
        surviving = set(snap0.files) & set(snap1.files)
        assert len(surviving) == 3
        for p in surviving:
            assert os.stat(os.path.join(t.path, p)).st_ino == inodes0[p]
        assert [h["operation"] for h in t.history()][0] == "DELETE"

    def test_delete_null_condition_keeps_rows(self, spark, tmp_path):
        t = _mk(
            spark, tmp_path,
            [Row(pkey=1, attr="a"), Row(pkey=2, attr=None),
             Row(pkey=3, attr="c")],
        )
        t.delete_where("attr = 'a'")
        # NULL-condition row (attr IS NULL) must STAY — three-valued DELETE
        assert sorted(r["pkey"] for r in t.to_df().collect()) == [2, 3]

    def test_delete_no_match_commits_nothing(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        v0 = t.snapshot().version
        res = t.delete_where("pkey > 1000000")
        assert res["touched_files"] == 0
        assert t.snapshot().version == v0

    def test_update_where_semantics_and_pruning(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        res = t.update_where(
            "pkey between 20 and 24", {"attr": "concat(attr, '!')"}
        )
        assert res["touched_files"] == 1
        out = {r["pkey"]: r["attr"] for r in t.to_df().collect()}
        assert out[20] == "v20!" and out[24] == "v24!"
        assert out[19] == "v19" and out[50] == "v50"
        assert len(out) == 100
        assert [h["operation"] for h in t.history()][0] == "UPDATE"

    def test_update_unknown_column_raises(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown columns"):
            t.update_where("pkey = 1", {"nope": "'x'"})

    def test_update_cast_back_to_declared_type(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.update_where("pkey = 1", {"pkey": "pkey + 1.5"})  # double expr
        f = {x.name: x.dataType.simpleString() for x in t.snapshot().schema.fields}
        assert f["pkey"] == "int"
        assert t.to_df().collect()[0]["pkey"] == 2  # cast truncates like SQL

    def test_delete_on_partitioned_table(self, spark, tmp_path):
        rows = [(i, "x" if i % 2 else "y") for i in range(20)]
        df = spark.createDataFrame(rows, "pkey int, part string")
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "pp"), df, partition_by=["part"]
        )
        res = t.delete_where("part = 'x'")
        assert res["touched_files"] >= 1
        got = t.to_df()
        assert got.filter("part = 'x'").count() == 0
        assert got.count() == 10


class TestVacuum:
    def test_vacuum_reclaims_and_old_reads_fail(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
        t.overwrite(spark.createDataFrame([(9, "z")], "pkey int, attr string"))
        t.overwrite(spark.createDataFrame([(8, "y")], "pkey int, attr string"))
        # versions 0 and 1's files are unreferenced by the live snapshot
        dry = t.vacuum(retention_hours=0.0, dry_run=True)
        assert dry  # something to reclaim
        before = sum(
            len(fs) for _, _, fs in os.walk(t.path) if True
        )
        got = t.vacuum(retention_hours=0.0)
        assert got == dry
        after = sum(len(fs) for _, _, fs in os.walk(t.path))
        assert after < before
        # current version intact
        assert sorted(map(tuple, t.to_df().collect())) == [(8, "y")]
        # time travel to a reclaimed version fails loudly
        with pytest.raises(Exception):
            t.to_df(version_as_of=0).collect()

    def test_vacuum_respects_retention(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.overwrite(spark.createDataFrame([(9, "z")], "pkey int, attr string"))
        # young files survive a 7-day retention
        assert t.vacuum(retention_hours=168.0) == []
        assert sorted(map(tuple, t.to_df(version_as_of=0).collect())) == [
            (1, "a")
        ]

    def test_vacuum_never_touches_log_or_live(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a")])
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        assert t.vacuum(retention_hours=0.0) == []  # appends leave no garbage
        assert t.to_df().count() == 2
        assert os.path.isdir(os.path.join(t.path, "_delta_log"))


class TestTimestampMergeKeys:
    def test_merge_on_timestamp_key_nonutc_session(self, spark, tmp_path):
        """Session tz != UTC: collected keys are session-local naive,
        footer stats are UTC — without normalization files containing
        matched keys get wrongly pruned and updates silently vanish."""
        import datetime

        from mack_spark.tables import KeyedMerge

        old_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        try:
            rows = [
                (datetime.datetime(2020, 1, 1, 12, 0, 0), "a"),
                (datetime.datetime(2020, 6, 1, 12, 0, 0), "b"),
                (datetime.datetime(2021, 1, 1, 12, 0, 0), "c"),
            ]
            df = (
                spark.createDataFrame(rows, "ts timestamp, attr string")
                .repartitionByRange(3, "ts")
                .sortWithinPartitions("ts")
            )
            t = DeltaProtocolTable.create(spark, str(tmp_path / "ts"), df)
            src = spark.createDataFrame(
                [(datetime.datetime(2020, 6, 1, 12, 0, 0), "B2")],
                "ts timestamp, attr string",
            )
            km = KeyedMerge(
                source=src, condition="t.ts = s.ts",
                matched_update={"attr": "s.attr"}, not_matched_insert="*",
                target_key_col="ts", source_key_col="ts",
            )
            res = t.merge(km)
            out = {str(r["ts"]): r["attr"] for r in t.to_df().collect()}
            assert out["2020-06-01 12:00:00"] == "B2"  # update NOT dropped
            assert out["2020-01-01 12:00:00"] == "a"
            assert t.to_df().count() == 3
            # and pruning still prunes: only the file holding the key
            assert res["touched_files"] == 1 and res["total_files"] == 3
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)


class TestForeignPartitionLayout:
    def test_partition_values_come_from_log_not_dirs(self, spark, tmp_path):
        """A spec-compliant foreign writer is NOT required to use
        col=value directories; partitionValues in the add action is
        authoritative."""
        import uuid as _uuid

        path = str(tmp_path / "foreign")
        os.makedirs(os.path.join(path, "_delta_log"))
        # two data files in the TABLE ROOT (no Hive dirs), partition
        # column 'part' recorded only in the log
        adds = []
        for pval, rows in (("x", [(1,)]), ("y", [(2,), (3,)])):
            rel = f"part-{_uuid.uuid4().hex}.parquet"
            spark.createDataFrame(rows, "pkey int").coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(tmp_path / "stage"))
            import glob
            import shutil

            src = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
            shutil.move(src, os.path.join(path, rel))
            adds.append(
                {"path": rel, "partitionValues": {"part": pval},
                 "size": os.path.getsize(os.path.join(path, rel)),
                 "modificationTime": 0, "dataChange": True}
            )
        schema_json = json.dumps(
            {"type": "struct", "fields": [
                {"name": "pkey", "type": "integer", "nullable": True,
                 "metadata": {}},
                {"name": "part", "type": "string", "nullable": True,
                 "metadata": {}},
            ]}
        )
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "t", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": schema_json,
                          "partitionColumns": ["part"],
                          "configuration": {}, "createdTime": 0}},
        ] + [{"add": a} for a in adds]
        with open(os.path.join(path, "_delta_log", "%020d.json" % 0), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
        t = DeltaProtocolTable(spark, path)
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [(1, "x"), (2, "y"), (3, "y")]


class TestInsertOnlyMerge:
    def test_insert_only_merge_is_add_only(self, spark, tmp_path):
        """whenNotMatchedInsertAll with no matched clause (the
        reference's append_without_duplicates, mack/__init__.py:402-412)
        must not rewrite ANY target file — Delta's insert-only MERGE
        optimization."""
        from mack_spark.tables import KeyedMerge

        df = (
            spark.range(100)
            .select(
                F.col("id").cast("int").alias("pkey"),
                F.concat(F.lit("v"), F.col("id")).alias("attr"),
            )
            .repartitionByRange(4, "pkey")
            .sortWithinPartitions("pkey")
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "io"), df)
        snap0 = t.snapshot()
        inodes0 = {
            p: os.stat(os.path.join(t.path, p)).st_ino for p in snap0.files
        }
        src = spark.createDataFrame(
            [(5, "DUP5"), (200, "NEW200"), (201, "NEW201")],
            "pkey int, attr string",
        )
        km = KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            not_matched_insert="*",
            target_key_col="pkey", source_key_col="pkey",
        )
        res = t.merge(km)
        assert res["touched_files"] == 0  # add-only commit
        # every original file survives in the log, byte-identical
        snap1 = t.snapshot()
        for p in snap0.files:
            assert p in snap1.files
            assert os.stat(os.path.join(t.path, p)).st_ino == inodes0[p]
        out = {r["pkey"]: r["attr"] for r in t.to_df().collect()}
        assert len(out) == 102
        assert out[5] == "v5"  # matched row untouched, NOT duplicated
        assert out[200] == "NEW200" and out[201] == "NEW201"

    def test_insert_only_with_condition(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, [(1, "a")])
        src = spark.createDataFrame(
            [(2, "yes"), (3, "no"), (4, None)], "pkey int, attr string"
        )
        km = KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            not_matched_insert="*",
            not_matched_condition="s.attr = 'yes'",  # NULL = false
            target_key_col="pkey", source_key_col="pkey",
        )
        t.merge(km)
        assert sorted(r["pkey"] for r in t.to_df().collect()) == [1, 2]


class TestRestoreConvert:
    def test_restore_is_metadata_only(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
        inodes0 = {
            p: os.stat(os.path.join(t.path, p)).st_ino
            for p in t.snapshot().files
        }
        t.overwrite(spark.createDataFrame([(9, "z")], "pkey int, attr string"))
        res = t.restore(0)
        assert res["version"] == 2  # restore is a NEW commit
        assert sorted(map(tuple, t.to_df().collect())) == [(1, "a"), (2, "b")]
        # original files re-added by reference, not copied
        for p, ino in inodes0.items():
            assert os.stat(os.path.join(t.path, p)).st_ino == ino
        # history preserved: v1's state still time-travels
        assert sorted(map(tuple, t.to_df(version_as_of=1).collect())) == [
            (9, "z")
        ]
        assert [h["operation"] for h in t.history()][0] == "RESTORE"

    def test_restore_after_vacuum_fails_loudly(self, spark, tmp_path):
        from mack_spark.sources.delta_log import DeltaProtocolError

        t = _mk(spark, tmp_path, [(1, "a")])
        t.overwrite(spark.createDataFrame([(9, "z")], "pkey int, attr string"))
        t.vacuum(retention_hours=0.0)
        with pytest.raises(DeltaProtocolError, match="vacuumed"):
            t.restore(0)

    def test_convert_from_parquet_adopts_without_rewrite(self, spark, tmp_path):
        src = str(tmp_path / "plain")
        df = spark.createDataFrame(
            [(i, "x" if i % 2 else "y", float(i)) for i in range(20)],
            "pkey int, part string, val double",
        )
        df.write.partitionBy("part").parquet(src)
        inodes0 = {}
        for root, _d, fs in os.walk(src):
            for f in fs:
                if f.endswith(".parquet"):
                    inodes0[os.path.join(root, f)] = os.stat(
                        os.path.join(root, f)
                    ).st_ino
        t = DeltaProtocolTable.convert_from_parquet(spark, src)
        snap = t.snapshot()
        assert snap.partition_columns == ["part"]
        assert len(snap.files) == len(inodes0)
        # adopted in place: same inodes, stats present
        for p in snap.files:
            assert os.stat(os.path.join(t.path, p)).st_ino == inodes0[
                os.path.join(t.path, p)
            ]
            assert snap.file_stats(p)["numRecords"] >= 1
        got = sorted(map(tuple, t.to_df().select("pkey", "part", "val").collect()))
        assert got == sorted(map(tuple, df.collect()))
        # and it is now a fully writable Delta table
        t.append(
            spark.createDataFrame([(100, "x", 1.0)],
                                  "pkey int, part string, val double")
        )
        assert t.to_df().count() == 21

    def test_convert_unpartitioned(self, spark, tmp_path):
        src = str(tmp_path / "flat")
        spark.range(10).selectExpr("cast(id as int) pkey").write.parquet(src)
        t = DeltaProtocolTable.convert_from_parquet(spark, src)
        assert t.to_df().count() == 10
        assert t.snapshot().partition_columns == []


class TestMergeEdges:
    def test_null_safe_merge_touches_null_key_files(self, spark, tmp_path):
        """Under a null-safe condition (t.k <=> s.k) a NULL source key
        matches NULL target keys. Min/max footer stats never describe
        NULLs, so pruning must fall back to nullCount for such files —
        otherwise the NULL-key update silently vanishes."""
        from mack_spark.tables import KeyedMerge

        rows = [(1, "a"), (2, "b"), (None, "n1"), (None, "n2")]
        df = (
            spark.createDataFrame(rows, "pkey int, attr string")
            .repartitionByRange(2, "pkey")
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "ns"), df)
        src = spark.createDataFrame([(None, "NULLED")], "pkey int, attr string")
        km = KeyedMerge(
            source=src, condition="t.pkey <=> s.pkey",
            matched_update={"attr": "s.attr"},
            target_key_col="pkey", source_key_col="pkey",
            null_safe=True,
        )
        t.merge(km)
        out = sorted(
            [(r["pkey"], r["attr"]) for r in t.to_df().collect()],
            key=lambda x: (x[0] is None, x),
        )
        assert out == [(1, "a"), (2, "b"), (None, "NULLED"), (None, "NULLED")]

    def test_plain_equality_never_matches_null_keys(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, [Row(pkey=None, attr="keep"),
                                  Row(pkey=1, attr="a")])
        src = spark.createDataFrame(
            [(None, "CLOB")], "pkey int, attr string"
        )
        km = KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            matched_update={"attr": "s.attr"}, not_matched_insert="*",
            target_key_col="pkey", source_key_col="pkey",
        )
        t.merge(km)
        # NULL = NULL is not TRUE: target row kept, source row INSERTED
        attrs = sorted(r["attr"] for r in t.to_df().collect())
        assert attrs == ["CLOB", "a", "keep"]

    def test_empty_source_merge_is_noop_commit(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, [(1, "a")])
        src = spark.createDataFrame([], "pkey int, attr string")
        km = KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            matched_update={"attr": "s.attr"}, not_matched_insert="*",
            target_key_col="pkey", source_key_col="pkey",
        )
        res = t.merge(km)
        assert res["touched_files"] == 0
        assert sorted(map(tuple, t.to_df().collect())) == [(1, "a")]

    def test_ambiguous_source_still_raises_on_protocol(self, spark, tmp_path):
        """Duplicate source keys defeat the skip-probe proof; the probe
        must run and reject the ambiguous merge before any commit."""
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, [(1, "a")])
        src = spark.createDataFrame(
            [(1, "x"), (1, "y")], "pkey int, attr string"
        )
        km = KeyedMerge(
            source=src, condition="t.pkey = s.pkey",
            matched_update={"attr": "s.attr"},
            target_key_col="pkey", source_key_col="pkey",
        )
        v0 = t.snapshot().version
        with pytest.raises(ValueError, match="ambiguous"):
            t.merge(km)
        assert t.snapshot().version == v0  # nothing committed


class TestOptimize:
    def test_optimize_compacts_small_tail_datachange_false(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(0, "r0")])
        for i in range(1, 8):
            t.append(
                spark.createDataFrame([(i, f"r{i}")], "pkey int, attr string")
            )
        before = t.snapshot()
        assert len(before.files) == 8
        res = t.optimize()
        assert res["rewritten"] == 8 and res["files_after"] < 8
        after = t.snapshot()
        assert len(after.files) == res["files_after"]
        # data unchanged, history records OPTIMIZE
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [(i, f"r{i}") for i in range(8)]
        assert [h["operation"] for h in t.history()][0] == "OPTIMIZE"
        # every action in the OPTIMIZE commit carries dataChange: false
        log = os.path.join(t.path, "_delta_log", "%020d.json" % res["version"])
        for line in open(log):
            a = json.loads(line)
            for kind in ("add", "remove"):
                if kind in a:
                    assert a[kind]["dataChange"] is False
        # pre-optimize version still time-travels (files not vacuumed)
        assert t.to_df(version_as_of=before.version).count() == 8

    def test_optimize_leaves_right_sized_files_alone(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(0, "big")])
        t.append(spark.createDataFrame([(1, "a")], "pkey int, attr string"))
        t.append(spark.createDataFrame([(2, "b")], "pkey int, attr string"))
        snap = t.snapshot()
        # declare everything "right-sized": nothing to do, no commit
        res = t.optimize(min_file_bytes=1)
        assert res["rewritten"] == 0
        assert t.snapshot().version == snap.version

    def test_optimize_is_partition_local(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, "x" if i % 2 else "y") for i in range(4)],
            "pkey int, part string",
        )
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "po"), df, partition_by=["part"]
        )
        for i in range(4, 10):
            t.append(
                spark.createDataFrame(
                    [(i, "x" if i % 2 else "y")], "pkey int, part string"
                )
            )
        res = t.optimize()
        assert res["rewritten"] >= 4
        snap = t.snapshot()
        # every compacted file still lives in its partition
        for p, a in snap.files.items():
            assert a["partitionValues"]["part"] in ("x", "y")
            assert f"part={a['partitionValues']['part']}" in p
        got = sorted(r["pkey"] for r in t.to_df().collect())
        assert got == list(range(10))

    def test_optimize_zorder_narrows_stats_and_prunes(self, spark, tmp_path):
        """OPTIMIZE ZORDER BY: after re-clustering on (a, b), a merge
        keyed on `a` must prune to a strict subset of files — the
        whole point of multi-dimensional clustering."""
        from mack_spark.tables import KeyedMerge

        df = spark.range(4000).selectExpr(
            "cast(id % 64 as int) a",
            "cast(id / 64 as int) b",
            "cast(id as string) payload",
        ).repartition(8)  # deliberately scrambled layout
        t = DeltaProtocolTable.create(spark, str(tmp_path / "z"), df)
        res = t.optimize(zorder_by=["a", "b"], target_file_bytes=8192)
        assert res["rewritten"] == len(
            t.snapshot(version_as_of=0).files
        )
        snap = t.snapshot()
        assert res["files_after"] == len(snap.files) > 1
        # every action carried dataChange: false
        log = os.path.join(t.path, "_delta_log", "%020d.json" % res["version"])
        for line in open(log):
            act = json.loads(line)
            for kind in ("add", "remove"):
                if kind in act:
                    assert act[kind]["dataChange"] is False
        # data intact
        assert t.to_df().count() == 4000
        # a single-key merge on `a` touches fewer files than exist:
        # z-clustering gave `a` narrow per-file ranges
        src = spark.createDataFrame([(63, 999, "X")],
                                    "a int, b int, payload string")
        km = KeyedMerge(
            source=src, condition="t.a = s.a AND t.b = s.b",
            matched_update={"payload": "s.payload"}, not_matched_insert="*",
            target_key_col="a", source_key_col="a",
        )
        mres = t.merge(km)
        assert mres["touched_files"] < mres["total_files"]


class TestMultiPartCheckpoint:
    def test_multipart_write_and_replay(self, spark, tmp_path, monkeypatch):
        from mack_spark.sources import delta_log as dl

        # force every checkpoint to split: 3 actions per part
        monkeypatch.setattr(dl, "CHECKPOINT_PART_ACTIONS", 3)
        t = _mk(spark, tmp_path, [(0, "r0")])
        for i in range(1, dl.CHECKPOINT_INTERVAL + 1):
            t.append(
                spark.createDataFrame([(i, f"r{i}")], "pkey int, attr string")
            )
        logdir = os.path.join(t.path, "_delta_log")
        parts = sorted(
            f for f in os.listdir(logdir)
            if ".checkpoint." in f and f.endswith(".parquet")
        )
        # 11 files + protocol/meta row = 12 actions -> 4 parts of <=3
        assert len(parts) >= 2, parts
        assert all(
            f.count(".") == 4 for f in parts
        ), parts  # %020d.checkpoint.%010d.%010d.parquet
        import json as _json

        lc = _json.load(open(os.path.join(logdir, "_last_checkpoint")))
        assert lc["parts"] == len(parts)
        # a FRESH handle replays from the parts + JSON tail
        t2 = DeltaProtocolTable(spark, t.path)
        snap = t2.snapshot()
        assert len(snap.files) == dl.CHECKPOINT_INTERVAL + 1
        got = sorted(map(tuple, t2.to_df().collect()))
        assert got == [(i, f"r{i}") for i in range(dl.CHECKPOINT_INTERVAL + 1)]

    def test_incomplete_multipart_raises(self, spark, tmp_path, monkeypatch):
        from mack_spark.sources import delta_log as dl
        from mack_spark.sources.delta_log import DeltaProtocolError

        monkeypatch.setattr(dl, "CHECKPOINT_PART_ACTIONS", 3)
        t = _mk(spark, tmp_path, [(0, "r0")])
        for i in range(1, dl.CHECKPOINT_INTERVAL + 1):
            t.append(
                spark.createDataFrame([(i, f"r{i}")], "pkey int, attr string")
            )
        logdir = os.path.join(t.path, "_delta_log")
        victim = sorted(
            f for f in os.listdir(logdir) if ".checkpoint." in f
        )[0]
        os.unlink(os.path.join(logdir, victim))
        # deleting a log file in place bypasses the commit protocol —
        # drop the replay cache to simulate a fresh reader process
        dl.clear_replay_cache(t.path)
        with pytest.raises(DeltaProtocolError, match="incomplete"):
            DeltaProtocolTable(spark, t.path).snapshot()

    def test_single_part_checkpoint_unchanged(self, spark, tmp_path):
        from mack_spark.sources import delta_log as dl

        t = _mk(spark, tmp_path, [(0, "r0")])
        for i in range(1, dl.CHECKPOINT_INTERVAL + 1):
            t.append(
                spark.createDataFrame([(i, f"r{i}")], "pkey int, attr string")
            )
        logdir = os.path.join(t.path, "_delta_log")
        import json as _json

        lc = _json.load(open(os.path.join(logdir, "_last_checkpoint")))
        assert "parts" not in lc
        assert os.path.exists(
            os.path.join(
                logdir, "%020d.checkpoint.parquet" % dl.CHECKPOINT_INTERVAL
            )
        )


class TestColumnMappingRead:
    """delta.columnMapping.mode=name tables (foreign, e.g. delta-spark
    with column mapping enabled) are READ-supported: parquet columns
    live under physical names (col-<uuid>), partitionValues are
    physical-keyed; reads translate back to logical names. Writes and
    the format readers refuse loudly; mode 'id' stays refused."""

    def _mk_mapped(self, spark, tmp_path, partitioned=False):
        import json as _json

        path = str(tmp_path / "mapped")
        os.makedirs(os.path.join(path, "_delta_log"))
        phys_k, phys_v, phys_p = "col-aaa111", "col-bbb222", "col-ccc333"
        df = spark.createDataFrame(
            [(1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2")],
            f"`{phys_k}` int, `{phys_v}` string, `{phys_p}` string",
        )
        adds = []
        if partitioned:
            df.write.partitionBy(phys_p).parquet(path, mode="append")
            for root, _d, fs in os.walk(path):
                for f in fs:
                    if not f.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(os.path.join(root, f), path)
                    seg = os.path.dirname(rel)
                    pv = {phys_p: seg.split("=", 1)[1]} if "=" in seg else {}
                    adds.append({
                        "path": rel.replace(os.sep, "/"),
                        "partitionValues": pv,
                        "size": os.path.getsize(os.path.join(root, f)),
                        "modificationTime": 0, "dataChange": True,
                    })
        else:
            df.coalesce(1).write.parquet(path, mode="append")
            for f in os.listdir(path):
                if f.endswith(".parquet"):
                    adds.append({
                        "path": f, "partitionValues": {},
                        "size": os.path.getsize(os.path.join(path, f)),
                        "modificationTime": 0, "dataChange": True,
                    })
        fields = [
            {"name": "k", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": phys_k}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": phys_v}},
            {"name": "p", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": phys_p}},
        ]
        if not partitioned:
            pass  # p stays a data column physically in the files
        meta = {
            "id": "11111111-2222-3333-4444-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": ["p"] if partitioned else [],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0,
        }
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": meta},
            {"commitInfo": {"timestamp": 0, "operation": "CREATE"}},
        ] + [{"add": a} for a in adds]
        with open(os.path.join(path, "_delta_log",
                               "%020d.json" % 0), "w") as fh:
            fh.write("\n".join(_json.dumps(a) for a in actions) + "\n")
        return DeltaProtocolTable(spark, path)

    def test_name_mode_reads_logical_columns(self, spark, tmp_path):
        t = self._mk_mapped(spark, tmp_path)
        df = t.to_df()
        assert df.columns == ["k", "v", "p"]
        assert sorted(map(tuple, df.collect())) == [
            (1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2"),
        ]

    def test_name_mode_partitioned(self, spark, tmp_path):
        t = self._mk_mapped(spark, tmp_path, partitioned=True)
        df = t.to_df()
        assert df.columns == ["k", "v", "p"]
        assert sorted(map(tuple, df.collect())) == [
            (1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2"),
        ]
        # logical predicates work against the translated frame
        assert df.where("p = 'p2'").count() == 1

    def test_mapped_table_append_writes_physical_names(self, spark, tmp_path):
        """Round-11: name-mode tables are READ-WRITE — appends rename
        logical→physicalName before writing, so the new parquet files
        carry the table's physical layout and every reader (ours or
        delta-spark) resolves them."""
        import pyarrow.parquet as pq

        t = self._mk_mapped(spark, tmp_path)
        before = set(t.snapshot().files)
        t.append(
            spark.createDataFrame([(9, "q", "p9")],
                                  "k int, v string, p string")
        )
        snap = t.snapshot()
        [new_rel] = [p for p in snap.files if p not in before]
        names = pq.read_schema(os.path.join(t.path, new_rel)).names
        assert set(names) == {"col-aaa111", "col-bbb222", "col-ccc333"}
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [
            (1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2"), (9, "q", "p9"),
        ]

    def test_format_reader_reads_mapped(self, spark, tmp_path):
        # r14: the format reader resolves mapped columns (physicalName
        # / field id) instead of refusing — this FOREIGN name-mode log
        # must read to logical names through it
        register_mod = __import__(
            "mack_spark.streaming.delta_source", fromlist=["register"]
        )
        register_mod.register(spark)
        t = self._mk_mapped(spark, tmp_path)
        df = (
            spark.read.format("delta_protocol")
            .option("path", t.path).load()
        )
        assert df.columns == ["k", "v", "p"]
        assert sorted(map(tuple, df.collect())) == [
            (1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2"),
        ]

    def test_id_mode_without_parquet_ids_fails_loudly(self, spark, tmp_path):
        """id-mode reads resolve by parquet FIELD ID (round 11); this
        fixture's files carry physical NAMES but no field ids, so an
        id-mode read must fail loudly at scan instead of silently
        blanking columns (fieldId.read.ignoreMissing stays false)."""
        t = self._mk_mapped(spark, tmp_path)
        vf = os.path.join(t.path, "_delta_log", "%020d.json" % 0)
        body = open(vf).read().replace(
            '"delta.columnMapping.mode": "name"',
            '"delta.columnMapping.mode": "id"',
        )
        open(vf, "w").write(body)
        with pytest.raises(Exception, match="[Ff]ield"):
            t.to_df().collect()
