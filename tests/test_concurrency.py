"""Optimistic concurrency on the Delta-protocol table.

Delta Lake arbitrates concurrent writers through its ``_delta_log``
(one put-if-absent file per version) — the reference inherits that for
free at every MERGE call site (reference mack/__init__.py:125-140).
Here two writers race on one table: the loser raises
ConcurrentModificationError (or retries, where its commit is
re-evaluated against the winner's) instead of silently dropping the
winner's commit.
"""

import threading

from pyspark.sql import Row

from mack_spark import ConcurrentModificationError
from mack_spark.sources.delta_log import DeltaProtocolTable


class _BarrierTable(DeltaProtocolTable):
    """Test double: every writer waits at a barrier before writing its
    data files — by then it has read the table — so both writers base
    their commit on the SAME snapshot version (the race the log's
    put-if-absent must catch)."""

    barrier = None

    def _write_data_files(self, *args, **kwargs):
        b = type(self).barrier
        if b is not None:
            b.wait(timeout=60)
        return super()._write_data_files(*args, **kwargs)


def test_racing_overwrites_do_not_corrupt(spark, tmp_path):
    """Racing overwrites of one snapshot: exactly one commits, the other
    raises, and the table serves the winner's snapshot alone."""
    path = str(tmp_path / "t")
    DeltaProtocolTable.create(
        spark, path, spark.createDataFrame([Row(id=i, v=f"x{i}") for i in range(5)])
    )
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
    t = DeltaProtocolTable(spark, path)
    assert t.snapshot().version == 1
    rows = t.to_df().collect()
    winner = next(tag for tag, o in outcomes.items() if o == "ok")
    assert [r.v for r in rows] == ["val" + winner[1:]]


def test_concurrent_keyed_ingest_with_retry_keeps_keys_unique(spark, tmp_path):
    """Two writers race overlapping keyed batches through
    append_without_duplicates with a retry-on-conflict loop (the
    standard optimistic-concurrency client pattern). Whatever the
    interleaving, the final table must hold each key exactly once —
    the loser's retry re-evaluates its anti-join against the winner's
    commit, so the race can never double-insert a key."""
    import time as _time

    from mack_spark.dedup import append_without_duplicates

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
