"""Optimistic-concurrency commit protocol (ManagedTable CAS).

Delta Lake arbitrates concurrent writers through its ``_delta_log``
(one put-if-absent file per version) — the reference inherits that for
free at every MERGE call site (reference mack/__init__.py:125-140).
The ManagedTable stand-in mirrors the protocol with O_EXCL commit
markers: exactly one writer wins a version; the loser raises
ConcurrentModificationError instead of silently dropping the winner's
commit.
"""

import json
import os
import threading

import pytest
from pyspark.sql import Row

from mack_spark import ConcurrentModificationError
from mack_spark.tables import ManagedTable


class _BarrierTable(ManagedTable):
    """Test double: every writer reads table state, then waits at a
    barrier before committing — forcing both writers to base their
    commit on the SAME snapshot version (the race the CAS must catch).
    """

    barrier = None

    def _read_meta(self):
        meta = super()._read_meta()
        b = type(self).barrier
        if b is not None:
            b.wait(timeout=60)
        return meta


def _mk(spark, tmp_path, n=5):
    df = spark.createDataFrame([Row(id=i, v=f"x{i}") for i in range(n)])
    ManagedTable.create(spark, str(tmp_path / "t"), df)
    return str(tmp_path / "t")


def test_stale_writer_append_raises(spark, tmp_path):
    """A writer whose snapshot read predates another commit must abort."""
    path = _mk(spark, tmp_path)
    t = ManagedTable(spark, path)
    stale_meta = t._read_meta()
    t.append(spark.createDataFrame([Row(id=100, v="b")]))  # other writer wins v1
    with pytest.raises(ConcurrentModificationError):
        t._commit(stale_meta, "WRITE")
    # the winner's commit is intact
    assert t._read_meta()["version"] == 1
    assert t.toDF().count() == 6


def test_threaded_appends_one_wins_one_raises(spark, tmp_path):
    """Two concurrent appends based on the same snapshot: exactly one
    commits, the other raises — no lost update either way."""
    path = _mk(spark, tmp_path)
    _BarrierTable.barrier = threading.Barrier(2)
    errors, done = [], []

    def writer(tag):
        t = _BarrierTable(spark, path)
        try:
            t.append(spark.createDataFrame([Row(id=200, v=tag)]))
            done.append(tag)
        except ConcurrentModificationError:
            errors.append(tag)
        except threading.BrokenBarrierError:  # pragma: no cover
            errors.append(("barrier", tag))

    try:
        threads = [threading.Thread(target=writer, args=(f"w{i}",)) for i in range(2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        _BarrierTable.barrier = None

    assert len(done) == 1, f"exactly one writer should win: done={done} err={errors}"
    assert len(errors) == 1
    t = ManagedTable(spark, path)
    assert t._read_meta()["version"] == 1
    # The loser claimed nothing and moved nothing: exactly the winner's
    # row was added (5 base rows + 1), and it is the one visible.
    rows = t.toDF().collect()
    assert len(rows) == 6
    assert done[0] in {r.v for r in rows}


def test_racing_overwrites_do_not_corrupt(spark, tmp_path):
    """Racing overwrites stage into distinct snapshot dirs; the loser's
    dir is cleaned up and the winner's snapshot is fully readable."""
    path = _mk(spark, tmp_path)
    _BarrierTable.barrier = threading.Barrier(2)
    outcomes = {}

    def writer(tag, val):
        t = _BarrierTable(spark, path)
        try:
            t.overwrite(spark.createDataFrame([Row(id=1, v=val)]))
            outcomes[tag] = "ok"
        except ConcurrentModificationError:
            outcomes[tag] = "conflict"

    try:
        threads = [
            threading.Thread(target=writer, args=(f"w{i}", f"val{i}")) for i in range(2)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        _BarrierTable.barrier = None

    assert sorted(outcomes.values()) == ["conflict", "ok"]
    t = ManagedTable(spark, path)
    rows = t.toDF().collect()
    assert len(rows) == 1 and rows[0].v in ("val0", "val1")
    # loser's staged snapshot dir was removed; only the winner's remains
    snap_dirs = [d for d in os.listdir(path) if d.startswith("v=") ]
    assert len(snap_dirs) == 1
    with open(os.path.join(path, "_mack_meta.json")) as f:
        assert json.load(f)["current"] == snap_dirs[0]


# ------------------------------------------------------- crash recovery
# A writer that dies between claim and finalize leaves an orphaned
# marker with meta never advancing. Without recovery every later writer
# targets the same version and loses the CAS forever — a permanent
# write wedge with no vacuum escape hatch.


def _marker(path, version):
    return os.path.join(path, "_commits", f"v{version:020d}.commit")


def _plant_marker(path, version, body):
    m = _marker(path, version)
    os.makedirs(os.path.dirname(m), exist_ok=True)
    with open(m, "w") as f:
        json.dump(body, f)
    return m


def test_orphaned_marker_wedges_then_recovers(spark, tmp_path, monkeypatch):
    """Within the TTL an orphaned marker still conflicts (the claimant
    may be in flight); past the TTL it is reclaimed and writes proceed."""
    import mack_spark.tables as T

    path = _mk(spark, tmp_path)
    t = ManagedTable(spark, path)
    _plant_marker(path, 1, {"operation": "WRITE", "timestamp": 0})

    with pytest.raises(ConcurrentModificationError):
        t.append(spark.createDataFrame([Row(id=300, v="blocked")]))

    monkeypatch.setattr(T, "STALE_COMMIT_TTL_SECONDS", 0.0)
    t.append(spark.createDataFrame([Row(id=300, v="recovered")]))
    assert t._read_meta()["version"] == 1
    rows = t.toDF().collect()
    assert len(rows) == 6
    assert "recovered" in {r.v for r in rows}


def test_crashed_append_rolled_back_on_reclaim(spark, tmp_path, monkeypatch):
    """A half-applied append (some staged files moved into the live
    snapshot, then the writer died before finalize) is rolled back from
    the marker's recorded file list when the marker is reclaimed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import mack_spark.tables as T

    path = _mk(spark, tmp_path)
    t = ManagedTable(spark, path)
    snap = t._snapshot_dir()
    orphan = "part-99999-dead-writer.parquet"
    pq.write_table(
        pa.table({"id": pa.array([999], pa.int64()), "v": pa.array(["ghost"])}),
        os.path.join(snap, orphan),
    )
    _plant_marker(
        path,
        1,
        {
            "operation": "WRITE",
            "timestamp": 0,
            "files": [orphan, "part-never-moved.parquet"],
        },
    )
    # the uncommitted file is (wrongly) visible — that's the debris
    assert t.toDF().filter("id = 999").count() == 1

    monkeypatch.setattr(T, "STALE_COMMIT_TTL_SECONDS", 0.0)
    t.append(spark.createDataFrame([Row(id=400, v="next")]))
    out = t.toDF()
    assert out.filter("id = 999").count() == 0
    assert out.filter("id = 400").count() == 1
    assert out.count() == 6


def test_vacuum_prunes_markers_and_recheck_blocks_stale_writer(spark, tmp_path):
    """vacuum() prunes markers for committed versions; the post-claim
    version recheck keeps that safe — a stale writer that wins the CAS
    through a pruned marker is caught before finalize."""
    from mack_spark import vacuum

    path = _mk(spark, tmp_path)
    t = ManagedTable(spark, path)
    stale = t._read_meta()  # version 0
    t.append(spark.createDataFrame([Row(id=500, v="a")]))  # v1
    t.append(spark.createDataFrame([Row(id=501, v="b")]))  # v2
    vacuum(t)
    assert [
        n for n in os.listdir(os.path.join(path, "_commits")) if n.endswith(".commit")
    ] == []

    with pytest.raises(ConcurrentModificationError):
        t._commit(stale, "WRITE")
    assert t._read_meta()["version"] == 2
    # the stale writer's claim was released, not left as new debris
    assert not os.path.exists(_marker(path, 1))


def test_concurrent_keyed_ingest_with_retry_keeps_keys_unique(spark, tmp_path):
    """Two writers race overlapping keyed batches through
    append_without_duplicates with a retry-on-conflict loop (the
    standard optimistic-concurrency client pattern). Whatever the
    interleaving, the final table must hold each key exactly once —
    the loser's retry re-evaluates its anti-join against the winner's
    commit, so the race can never double-insert a key."""
    import time as _time

    from mack_spark.dedup import append_without_duplicates
    from mack_spark.sources.delta_log import DeltaProtocolTable

    base = spark.createDataFrame([(0, "seed")], ["k", "v"])
    t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), base)

    batches = {
        "w0": spark.createDataFrame([(i, "w0") for i in range(1, 30)], ["k", "v"]),
        "w1": spark.createDataFrame([(i, "w1") for i in range(15, 45)], ["k", "v"]),
    }
    errors = []

    def writer(name):
        for attempt in range(6):
            try:
                append_without_duplicates(t, batches[name], ["k"])
                return
            except ConcurrentModificationError:
                _time.sleep(0.05 * (attempt + 1))
        errors.append(f"{name} exhausted retries")

    threads = [threading.Thread(target=writer, args=(n,)) for n in batches]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    rows = t.to_df().collect()
    keys = [r["k"] for r in rows]
    assert sorted(keys) == list(range(45))  # 0..44 exactly once each
    # overlap keys 15..29 were inserted by exactly one writer
    owners = {r["k"]: r["v"] for r in rows}
    assert all(owners[k] in ("w0", "w1") for k in range(15, 30))
