"""Round-13: log compaction files (spec §Log Compaction Files).

``compact_log(start, end)`` writes ``<start>.<end>.compacted.json``
with the range's reconciled actions (adds net of removes, REMOVE
tombstones for pre-range files the range deleted, latest
metaData/protocol/txn/domain); ``snapshot()`` substitutes a compaction
file for its whole commit span during replay when one starts exactly
at the next expected version. Commit JSONs themselves are untouched —
retention still governs them — and a compaction whose range sits
below the checkpoint expires with cleanup.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
    clear_replay_cache,
)


def _mk(spark, tmp_path, name="t", n=6):
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(n)], "pkey int, attr string"
    )
    return DeltaProtocolTable.create(spark, str(tmp_path / name), df)


def _grow(spark, t, k=4):
    for i in range(k):
        t.append(spark.createDataFrame(
            [(100 + i, "x")], "pkey int, attr string"
        ))


class TestCompactionWrite:
    def test_roundtrip_equivalence(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        _grow(spark, t)
        t.delete_where("pkey = 100")
        want = sorted(map(tuple, t.to_df().collect()))
        head = t.snapshot().version
        fn = t.compact_log(1, head)
        assert fn == "%020d.%020d.compacted.json" % (1, head)
        # force the reader through the compaction: remove the commit
        # JSONs it covers except version 0 (the start of the log)
        logdir = os.path.join(t.path, "_delta_log")
        for v in range(1, head + 1):
            os.unlink(os.path.join(logdir, "%020d.json" % v))
        clear_replay_cache(t.path)
        t2 = DeltaProtocolTable(spark, t.path)
        snap = t2.snapshot()
        assert snap.version == head
        assert sorted(map(tuple, t2.to_df().collect())) == want

    def test_remove_tombstones_erase_prerange_adds(self, spark, tmp_path):
        """A file added BEFORE the range and deleted INSIDE it must be
        tombstoned in the compaction, or replay through it would
        resurrect the deleted rows."""
        t = _mk(spark, tmp_path)
        _grow(spark, t, k=2)
        t.delete_where("pkey < 3")  # rewrites version-0 files
        want = sorted(map(tuple, t.to_df().collect()))
        head = t.snapshot().version
        fn = t.compact_log(1, head)
        lines = [
            json.loads(ln)
            for ln in open(
                os.path.join(t.path, "_delta_log", fn)
            ).read().splitlines()
        ]
        assert any("remove" in a for a in lines)
        logdir = os.path.join(t.path, "_delta_log")
        for v in range(1, head + 1):
            os.unlink(os.path.join(logdir, "%020d.json" % v))
        clear_replay_cache(t.path)
        assert sorted(
            map(tuple, DeltaProtocolTable(spark, t.path).to_df().collect())
        ) == want

    def test_dv_rewrite_keeps_the_old_dv_tombstone(self, spark, tmp_path):
        """A DV delete of an already-DV'd file removes it under the old
        DV and adds it under the new one. The compaction must keep that
        remove (tombstones are keyed by path AND DV), or a spec reader
        replaying it over the previous version keeps both adds live."""
        df = spark.range(10).selectExpr(
            "cast(id as int) pkey", "concat('r', id) attr"
        ).coalesce(1)
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "dv"), df,
            properties={"delta.enableDeletionVectors": "true"},
        )
        t.delete_where("pkey = 0")
        t.delete_where("pkey = 1")

        def key(f):
            dv = f.get("deletionVector") or {}
            return (f["path"], dv.get("storageType"),
                    dv.get("pathOrInlineDv"), dv.get("offset"))

        live = {key(a) for a in t.snapshot(version_as_of=1).files.values()}
        fn = t.compact_log(2, 2)
        with open(os.path.join(t.path, "_delta_log", fn)) as fh:
            lines = [json.loads(ln) for ln in fh if ln.strip()]
        for a in lines:
            if "remove" in a:
                live.discard(key(a["remove"]))
        live |= {key(a["add"]) for a in lines if "add" in a}
        assert live == {key(a) for a in t.snapshot().files.values()}

    def test_reader_prefers_jsons_inside_range_for_time_travel(
        self, spark, tmp_path
    ):
        """Time travel to a version INSIDE a compacted span still works
        while the commit JSONs exist (the compaction is additive)."""
        t = _mk(spark, tmp_path)
        _grow(spark, t, k=3)
        head = t.snapshot().version
        t.compact_log(0, head)
        clear_replay_cache(t.path)
        s1 = DeltaProtocolTable(spark, t.path).snapshot(version_as_of=1)
        assert s1.version == 1
        # and the head read may consume the compaction
        assert DeltaProtocolTable(
            spark, t.path
        ).to_df().count() == 6 + 3

    def test_mid_span_travel_after_json_loss_fails_loud(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path)
        _grow(spark, t, k=3)
        head = t.snapshot().version
        t.compact_log(1, head)
        logdir = os.path.join(t.path, "_delta_log")
        for v in range(1, head + 1):
            os.unlink(os.path.join(logdir, "%020d.json" % v))
        clear_replay_cache(t.path)
        t2 = DeltaProtocolTable(spark, t.path)
        assert t2.snapshot().version == head  # via compaction
        with pytest.raises(DeltaProtocolError, match="missing commit"):
            t2.snapshot(version_as_of=2)  # inside the lost span

    def test_metadata_survives_compaction(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.append(
            spark.createDataFrame([(100, "x")], "pkey int, attr string")
        )
        t.set_properties({"delta.appendOnly": "false", "custom.tag": "v"})
        head = t.snapshot().version
        t.compact_log(0, head)
        logdir = os.path.join(t.path, "_delta_log")
        for v in range(0, head + 1):
            os.unlink(os.path.join(logdir, "%020d.json" % v))
        clear_replay_cache(t.path)
        snap = DeltaProtocolTable(spark, t.path).snapshot()
        assert (snap.metadata.get("configuration") or {}).get(
            "custom.tag"
        ) == "v"

    def test_cleanup_expires_compaction_below_checkpoint(
        self, spark, tmp_path
    ):
        import time as _time

        t = _mk(spark, tmp_path)
        _grow(spark, t, k=3)
        t.compact_log(0, 2)
        t.checkpoint()
        logdir = os.path.join(t.path, "_delta_log")
        fn = "%020d.%020d.compacted.json" % (0, 2)
        old = _time.time() - 100 * 3600
        os.utime(os.path.join(logdir, fn), (old, old))
        gone = t.cleanup_metadata(retention_hours=1)
        assert fn in gone

    def test_invalid_range_refused(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        with pytest.raises(ValueError):
            t.compact_log(3, 1)
