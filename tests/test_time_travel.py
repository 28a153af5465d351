"""Retained snapshots: time travel + RESTORE under the
``mack.retain_snapshots`` table property (VERDICT r2 "what's missing"
item 2 — the reference inherits real versioned reads from Delta's log,
reference mack/__init__.py:616-627; the stand-in retains the last N
replaced snapshot dirs, hard-link-cheap)."""

import pytest
from pyspark.sql import functions as F

import mack_spark as mk
from mack_spark.tables import ManagedTable


def _mk(spark, tmp_path, retain=2):
    df = spark.createDataFrame([(1, "v0")], "id int, v string")
    return ManagedTable.create(
        spark, str(tmp_path / "tt"), df,
        properties={"mack.retain_snapshots": str(retain)},
    )


def test_time_travel_reads_replaced_snapshots(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    t.overwrite(spark.createDataFrame([(1, "v2")], "id int, v string"))
    assert t.toDF().collect()[0].v == "v2"
    assert t.toDF(version=0).collect()[0].v == "v0"
    assert t.toDF(version=1).collect()[0].v == "v1"
    # current version is also addressable explicitly
    assert t.toDF(version=2).collect()[0].v == "v2"


def test_retention_trims_oldest(spark, tmp_path):
    t = _mk(spark, tmp_path, retain=1)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    t.overwrite(spark.createDataFrame([(1, "v2")], "id int, v string"))
    # only the last replaced snapshot (v1) is retained; v0 is gone
    assert t.toDF(version=1).collect()[0].v == "v1"
    with pytest.raises(ValueError, match="not retained"):
        t.toDF(version=0)


def test_no_retention_by_default(spark, tmp_path):
    df = spark.createDataFrame([(1, "v0")], "id int, v string")
    t = ManagedTable.create(spark, str(tmp_path / "nr"), df)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    with pytest.raises(ValueError, match="not retained"):
        t.toDF(version=0)


def test_restore_commits_forward(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    t.restore(0)
    assert t.toDF().collect()[0].v == "v0"
    # restore is a new version, not an undo: history moved forward
    assert mk.latest_version(t) == 2
    assert "RESTORE VERSION AS OF 0" in [h["operation"] for h in t.history()]
    # and the pre-restore content is itself retained
    assert t.toDF(version=1).collect()[0].v == "v1"


def test_merge_paths_respect_retention(spark, tmp_path):
    """A MERGE-based mutation keeps the replaced version readable (the
    protocol table's log retains every version until VACUUM)."""
    from mack_spark.sources.delta_log import DeltaProtocolTable

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "pkey int, c1 string"
    )
    t = DeltaProtocolTable.create(spark, str(tmp_path / "mr"), df)
    mk.kill_duplicates(t, ["c1"])
    assert t.to_df().count() == 1
    assert t.to_df(version_as_of=0).count() == 3


def test_compact_sort_by_clusters_for_pruning(spark, tmp_path):
    from mack_spark.tables import optimize_compact

    df = spark.range(100).select(
        F.col("id").cast("int").alias("pkey"),
        F.concat(F.lit("x"), F.col("id")).alias("v"),
    ).repartition(8)
    t = ManagedTable.create(spark, str(tmp_path / "cs"), df)
    out = optimize_compact(t, target_file_bytes=1, sort_by=["pkey"])
    assert out["files_after"] >= 2
    # footer ranges must now be disjoint: per-file min/max don't overlap
    from conftest import footer_key_ranges

    ivs = sorted(footer_key_ranges(t._data_files(), "pkey"))
    for (alo, ahi), (blo, bhi) in zip(ivs, ivs[1:]):
        assert ahi < blo, ivs


def test_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    import os

    t = _mk(spark, tmp_path, retain=1)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    # fabricate crash debris: an orphan snapshot dir and a stale staging dir
    os.makedirs(os.path.join(t.path, "v=99-deadbeef"))
    os.makedirs(os.path.join(t.path, ".staging-deadbeef"))
    doomed = mk.vacuum(t, dry_run=True)
    # debris dirs plus the marker of the committed overwrite (markers
    # for durably committed versions are prunable — see _claim_version)
    assert {os.path.basename(d) for d in doomed} == {
        "v=99-deadbeef",
        ".staging-deadbeef",
        "v00000000000000000001.commit",
    }
    mk.vacuum(t)
    names = set(os.listdir(t.path))
    assert "v=99-deadbeef" not in names and ".staging-deadbeef" not in names
    assert os.listdir(os.path.join(t.path, "_commits")) == []
    # live current + retained snapshots still readable
    assert t.toDF().collect()[0].v == "v1"
    assert t.toDF(version=0).collect()[0].v == "v0"


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    import os

    src_df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id int, v string"
    )
    src = ManagedTable.create(
        spark, str(tmp_path / "src"), src_df,
        properties={"team": "x"}, partition_by=None,
    )
    clone = mk.shallow_clone(src, str(tmp_path / "clone"))
    # zero-copy: every clone file shares an inode with a source file
    src_inodes = {os.stat(f).st_ino for f in src._data_files()}
    clone_inodes = {os.stat(f).st_ino for f in clone._data_files()}
    assert clone_inodes <= src_inodes and clone_inodes
    assert clone.toDF().count() == 10
    assert clone.detail()["properties"]["team"] == "x"
    assert mk.latest_version(clone) == 0
    # independence: mutate the clone, source unchanged; delete source,
    # clone still readable (inode refcounting keeps shared bytes alive)
    clone.overwrite(clone.toDF().filter("id < 5"))
    clone.append(spark.createDataFrame([(99, "new")], "id int, v string"))
    assert src.toDF().count() == 10
    import shutil as _sh
    _sh.rmtree(src.path)
    assert clone.toDF().count() == 6


def test_table_changes_insert_delete(spark, tmp_path):
    """Row-level changes between versions come from the Delta-protocol
    table's Change Data Feed (``table_changes``)."""
    from mack_spark.sources.delta_log import DeltaProtocolTable

    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "cdf"),
        spark.createDataFrame([(1, "v0")], "id int, v string"),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(spark.createDataFrame([(2, "x")], "id int, v string"))  # v1
    t.delete_where("id = 1")  # v2
    t.append(spark.createDataFrame([(3, "y")], "id int, v string"))  # v3
    ch = t.table_changes(2).orderBy("id", "_change_type")
    rows = [(r.id, r.v, r._change_type) for r in ch.collect()]
    assert rows == [(1, "v0", "delete"), (3, "y", "insert")]
    ch2 = t.table_changes(1, 1)
    got = {(r.id, r.v, r._change_type) for r in ch2.collect()}
    assert got == {(2, "x", "insert")}


def test_partitioned_pruned_merge_respects_retention(spark, tmp_path):
    """A merge on a partitioned table rewrites only the touched
    partition: the replaced version stays readable, and the untouched
    partition's file is the same live file in both versions."""
    from mack_spark.sources.delta_log import DeltaProtocolTable
    from mack_spark.tables import KeyedMerge

    df = spark.createDataFrame(
        [(1, "A", "s1"), (2, "B", "s2")], "pkey int, attr string, seg string"
    )
    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "pr"), df, partition_by=["seg"]
    )
    before = set(t.snapshot().files)
    t.merge(KeyedMerge(
        source=spark.createDataFrame([(1, "A2")], "pkey int, attr string"),
        condition="t.pkey = s.pkey",
        matched_update={"attr": "s.attr"},
        target_key_col="pkey", source_key_col="pkey",
    ))
    assert {(r.pkey, r.attr) for r in t.to_df().collect()} == {(1, "A2"), (2, "B")}
    assert {(r.pkey, r.attr) for r in t.to_df(version_as_of=0).collect()} == {
        (1, "A"), (2, "B"),
    }
    kept = before & set(t.snapshot().files)
    assert [p.split("/")[0] for p in kept] == ["seg=s2"]
