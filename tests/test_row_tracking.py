"""Row tracking (round 12): Delta writer feature ``rowTracking`` (delta
PROTOCOL.md §Row Tracking). ``_commit`` assigns every fresh add a
``baseRowId`` (first of numRecords contiguous fresh row ids) and
``defaultRowCommitVersion``, advancing the ``delta.rowTracking``
domain's ``rowIdHighWaterMark`` in the same commit;
``to_df(with_row_ids=True)`` materializes ``_row_id =
coalesce(materialized row-id column, baseRowId + row position)`` —
stable across appends and DV deletes. Since r13, rewrites (OPTIMIZE /
REORG / UPDATE / DELETE / MERGE) PRESERVE ids by writing them into the
table's materialized row-id columns (spec §Row Tracking); those pins
live in tests/test_advice_fixes_r13.py::TestMaterializedRowIds."""

import json
import os

import pytest

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
)


def _mk(spark, tmp_path, n=10, dv=False, partition=False):
    df = spark.createDataFrame(
        [(i, f"k{i}", "even" if i % 2 == 0 else "odd") for i in range(n)],
        "pk int, name string, par string",
    ).repartition(3)
    props = {"delta.enableRowTracking": "true"}
    if dv:
        props["delta.enableDeletionVectors"] = "true"
    return DeltaProtocolTable.create(
        spark, str(tmp_path / "t"), df,
        partition_by=["par"] if partition else None,
        properties=props,
    )


def _id_map(t):
    return {
        r["pk"]: (r["_row_id"], r["_row_commit_version"])
        for r in t.to_df(with_row_ids=True).collect()
    }


class TestRowIdAssignment:
    def test_create_assigns_contiguous_ids(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=10)
        m = _id_map(t)
        assert sorted(rid for rid, _ in m.values()) == list(range(10))
        assert {v for _, v in m.values()} == {0}

    def test_protocol_and_domain(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=4)
        snap = t.snapshot()
        feats = set(snap.protocol["writerFeatures"])
        assert {"rowTracking", "domainMetadata"} <= feats
        dm = json.loads(snap.domains["delta.rowTracking"]["configuration"])
        assert dm["rowIdHighWaterMark"] == 3
        for a in snap.files.values():
            assert a["baseRowId"] is not None
            assert a["defaultRowCommitVersion"] == 0

    def test_append_preserves_existing_ids(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=6)
        before = _id_map(t)
        t.append(spark.createDataFrame(
            [(100, "x", "even"), (101, "y", "odd")],
            "pk int, name string, par string",
        ))
        after = _id_map(t)
        for pk, v in before.items():
            assert after[pk] == v, f"row id of pk={pk} moved"
        new_ids = {after[100][0], after[101][0]}
        assert new_ids == {6, 7}
        assert after[100][1] == 1  # commit version of the append

    def test_dv_delete_keeps_survivor_ids(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=10, dv=True)
        before = _id_map(t)
        t.delete_where("pk % 3 = 0")
        after = _id_map(t)
        assert set(after) == {pk for pk in before if pk % 3 != 0}
        for pk in after:
            assert after[pk] == before[pk], "DV delete moved a row id"

    def test_dv_update_keeps_updated_row_id(self, spark, tmp_path):
        # spec §Row Tracking: an updated row keeps its _row_id and
        # takes the update's commit version, also when the update
        # marks the old row in a DV and writes the new one elsewhere
        t = _mk(spark, tmp_path, n=10, dv=True)
        before = _id_map(t)
        v = t.update_where("pk = 3", {"name": "'changed'"})["version"]
        after = _id_map(t)
        assert after[3] == (before[3][0], v)
        for pk in set(before) - {3}:
            assert after[pk] == before[pk], "DV update moved a row id"

    def test_rewrite_assigns_fresh_ids(self, spark, tmp_path):
        # no DVs → update_where rewrites files → fresh, still-unique ids
        t = _mk(spark, tmp_path, n=6)
        t.update_where("pk = 0", {"name": "'changed'"})
        m = _id_map(t)
        ids = [rid for rid, _ in m.values()]
        assert len(set(ids)) == len(ids)
        hwm = json.loads(
            t.snapshot().domains["delta.rowTracking"]["configuration"]
        )["rowIdHighWaterMark"]
        assert hwm >= 6  # the rewrite consumed fresh ids

    def test_partitioned_row_ids(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=8, partition=True)
        m = _id_map(t)
        assert sorted(rid for rid, _ in m.values()) == list(range(8))


class TestRowTrackingEnablement:
    def test_backfill_on_enable(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, f"k{i}") for i in range(5)], "pk int, name string"
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
        with pytest.raises(DeltaProtocolError, match="RowTracking"):
            t.to_df(with_row_ids=True)
        t.set_properties({"delta.enableRowTracking": "true"})
        m = {r["pk"]: r["_row_id"]
             for r in t.to_df(with_row_ids=True).collect()}
        assert sorted(m.values()) == list(range(5))
        # backfill was metadata-only: same physical files
        assert all(
            a.get("baseRowId") is not None
            for a in t.snapshot().files.values()
        )

    def test_checkpoint_roundtrip(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=6)
        t.append(spark.createDataFrame(
            [(50, "z", "even")], "pk int, name string, par string"
        ))
        before = _id_map(t)
        v = t.checkpoint()
        for i in range(v + 1):
            f = os.path.join(t.path, "_delta_log", "%020d.json" % i)
            if os.path.exists(f):
                os.unlink(f)
        t2 = DeltaProtocolTable(spark, t.path)
        assert _id_map(t2) == before
        # watermark survives: the next append continues, not restarts
        t2.append(spark.createDataFrame(
            [(60, "w", "odd")], "pk int, name string, par string"
        ))
        after = _id_map(t2)
        assert after[60][0] == 7

    def test_restore_keeps_original_ids(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=4)
        before = _id_map(t)
        t.append(spark.createDataFrame(
            [(100, "x", "even")], "pk int, name string, par string"
        ))
        t.restore(0)
        assert _id_map(t) == before


class TestRowTrackingGuards:
    def test_plain_table_refuses_row_id_read(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a")], "pk int, name string")
        t = DeltaProtocolTable.create(spark, str(tmp_path / "p"), df)
        with pytest.raises(DeltaProtocolError, match="RowTracking"):
            t.to_df(with_row_ids=True)

    def test_foreign_rowtracking_table_writable(self, spark, tmp_path):
        # writer-7 log declaring rowTracking must be accepted
        t = _mk(spark, tmp_path, n=2)
        t2 = DeltaProtocolTable(spark, t.path)
        t2.append(spark.createDataFrame(
            [(9, "n", "odd")], "pk int, name string, par string"
        ))
        assert len(_id_map(t2)) == 3
