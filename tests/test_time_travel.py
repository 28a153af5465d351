"""Time travel, RESTORE, clustered OPTIMIZE, VACUUM and SHALLOW CLONE
on the Delta-protocol table — the versioned reads the reference
inherits from Delta's log (reference mack/__init__.py:616-627)."""

import os
import time

from pyspark.sql import functions as F

import mack_spark as mk
from mack_spark.sources.delta_log import DeltaProtocolTable

from conftest import log_key_ranges


def _mk(spark, tmp_path):
    df = spark.createDataFrame([(1, "v0")], "id int, v string")
    return DeltaProtocolTable.create(spark, str(tmp_path / "tt"), df)


def _v(t, version=None):
    return t.to_df(version_as_of=version).collect()[0].v


def test_time_travel_reads_replaced_snapshots(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    t.overwrite(spark.createDataFrame([(1, "v2")], "id int, v string"))
    assert _v(t) == "v2"
    assert _v(t, 0) == "v0"
    assert _v(t, 1) == "v1"
    # current version is also addressable explicitly
    assert _v(t, 2) == "v2"


def test_restore_commits_forward(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    t.restore(0)
    assert _v(t) == "v0"
    # restore is a new version, not an undo: history moved forward
    assert mk.latest_version(t) == 2
    assert t.history()[0]["operation"] == "RESTORE"
    # and the pre-restore content is itself still readable
    assert _v(t, 1) == "v1"


def test_merge_paths_respect_retention(spark, tmp_path):
    """A MERGE-based mutation keeps the replaced version readable (the
    protocol table's log retains every version until VACUUM)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "pkey int, c1 string"
    )
    t = DeltaProtocolTable.create(spark, str(tmp_path / "mr"), df)
    mk.kill_duplicates(t, ["c1"])
    assert t.to_df().count() == 1
    assert t.to_df(version_as_of=0).count() == 3


def test_compact_sort_by_clusters_for_pruning(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id").cast("int").alias("pkey"),
        F.concat(F.lit("x"), F.col("id")).alias("v"),
    ).repartition(8)
    t = DeltaProtocolTable.create(spark, str(tmp_path / "cs"), df)
    out = t.optimize(target_file_bytes=1, min_file_bytes=1 << 30, sort_by=["pkey"])
    assert out["files_after"] >= 2
    # per-file key ranges must now be disjoint
    ivs = sorted(log_key_ranges(t, "pkey"))
    for (alo, ahi), (blo, bhi) in zip(ivs, ivs[1:]):
        assert ahi < blo, ivs


def test_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, v string"))
    # crash debris older than the horizon: a data file no commit
    # references and a dead writer's staging dir
    old = time.time() - 7200
    for rel in ("part-99999-dead.parquet", "_staging_deadbeef/part-0.parquet"):
        full = os.path.join(t.path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        open(full, "wb").close()
        os.utime(full, (old, old))
    doomed = t.vacuum(retention_hours=1, dry_run=True)
    assert sorted(doomed) == [
        "_staging_deadbeef/part-0.parquet", "part-99999-dead.parquet",
    ]
    t.vacuum(retention_hours=1)
    assert not os.path.exists(os.path.join(t.path, "part-99999-dead.parquet"))
    # the live version and the replaced one (inside the horizon) still read
    assert _v(t) == "v1"
    assert _v(t, 0) == "v0"


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    src_df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id int, v string"
    )
    src = DeltaProtocolTable.create(
        spark, str(tmp_path / "src"), src_df, properties={"team": "x"}
    )
    clone = DeltaProtocolTable.shallow_clone(spark, src.path, str(tmp_path / "clone"))
    # zero-copy: every clone file IS a source file
    src_files = {os.path.join(src.path, p) for p in src.snapshot().files}
    clone_files = {os.path.join(clone.path, p) for p in clone.snapshot().files}
    assert clone_files and clone_files <= src_files
    assert clone.to_df().count() == 10
    assert clone.detail()["properties"]["team"] == "x"
    assert mk.latest_version(clone) == 0
    # independence: mutate the clone, source unchanged
    clone.overwrite(clone.to_df().filter("id < 5"))
    clone.append(spark.createDataFrame([(99, "new")], "id int, v string"))
    assert src.to_df().count() == 10
    assert clone.to_df().count() == 6


def test_table_changes_insert_delete(spark, tmp_path):
    """Row-level changes between versions come from the Delta-protocol
    table's Change Data Feed (``table_changes``)."""

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
