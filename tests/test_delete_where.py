"""delete_where / update_where: generic DELETE and UPDATE on the
Delta-protocol table (``DeltaProtocolTable.delete_where`` /
``update_where``) with automatic partition- and file-pruned commits."""

import pytest

from mack_spark.sources.delta_log import DeltaProtocolTable


def _part_files(table, seg):
    return sorted(p for p in table.snapshot().files if p.startswith(f"seg={seg}/"))


def _version(table):
    return table.snapshot().version


def _make(spark, tmp_path, partitioned=True):
    rows = [(i, f"v{i}", f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "k int, v string, seg string")
    return DeltaProtocolTable.create(
        spark,
        str(tmp_path / "t"),
        df,
        partition_by=["seg"] if partitioned else None,
    )


def test_partition_predicate_prunes_and_links(spark, tmp_path):
    t = _make(spark, tmp_path)
    before = {s: _part_files(t, s) for s in ("s0", "s1", "s2")}
    t.delete_where("seg = 's1'")
    assert t.to_df().filter("seg = 's1'").count() == 0
    assert t.to_df().count() == 20
    # untouched partitions keep the same live files
    assert _part_files(t, "s0") == before["s0"]
    assert _part_files(t, "s2") == before["s2"]


def test_partition_predicate_no_match_is_noop_commit(spark, tmp_path):
    t = _make(spark, tmp_path)
    v = _version(t)
    t.delete_where("seg = 'nope'")
    assert _version(t) == v  # no commit at all
    assert t.to_df().count() == 30


def test_row_predicate_full_rewrite_correct(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("k % 2 = 0")
    assert sorted(r["k"] for r in t.to_df().collect()) == list(range(1, 30, 2))


def test_null_condition_rows_are_kept(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k int, v string"
    )
    t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
    t.delete_where("v = 'a'")  # NULL comparison -> NULL -> keep
    assert sorted(r["k"] for r in t.to_df().collect()) == [2, 3]


def test_mixed_predicate_does_not_misprune(spark, tmp_path):
    # predicate touches a partition column AND a data column: must NOT
    # prune on partition values alone
    t = _make(spark, tmp_path)
    t.delete_where("seg = 's1' AND k < 10")
    kept_s1 = sorted(
        r["k"] for r in t.to_df().filter("seg = 's1'").collect()
    )
    assert kept_s1 == [10, 13, 16, 19, 22, 25, 28]
    assert t.to_df().count() == 27


def test_unpartitioned_with_touched_keys_prunes_files(spark, tmp_path):
    """The delete touches keys k < 10 only: per-file key statistics
    leave every file whose range misses them live and untouched."""
    rows = [(i, f"v{i}") for i in range(200)]
    # several key-clustered files
    df = (
        spark.createDataFrame(rows, "k int, v string")
        .repartitionByRange(5, "k")
        .sortWithinPartitions("k")
    )
    t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
    before = set(t.snapshot().files)
    t.delete_where("k < 10")
    assert t.to_df().count() == 190
    assert len(before & set(t.snapshot().files)) >= 2


class TestUpdateWhere:
    def test_partition_pruned_update_links_untouched(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        before = {s: _part_files(t, s) for s in ("s0", "s2")}
        t.update_where("seg = 's1'", {"v": "upper(v)"})
        got = {r["k"]: r["v"] for r in t.to_df().collect()}
        for k in range(30):
            assert got[k] == (f"V{k}" if k % 3 == 1 else f"v{k}")
        assert _part_files(t, "s0") == before["s0"]
        assert _part_files(t, "s2") == before["s2"]

    def test_simultaneous_assignment_semantics(self, spark, tmp_path):
        df = spark.createDataFrame([(1, 10, 20)], "k int, a int, b int")
        t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
        # SQL UPDATE: both expressions see the PRE-update row
        t.update_where("k = 1", {"a": "b + 1", "b": "a + 1"})
        (r,) = t.to_df().collect()
        assert (r["a"], r["b"]) == (21, 11)

    def test_assignment_to_partition_column_moves_rows(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        t.update_where("seg = 's1'", {"seg": "'s9'"})
        assert t.to_df().filter("seg = 's1'").count() == 0
        assert t.to_df().filter("seg = 's9'").count() == 10
        assert t.to_df().count() == 30

    def test_type_preserved_and_null_condition_untouched(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, None, 2.5)], "k int, v string, x double"
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
        t.update_where("v = 'a'", {"x": "x * 2"})  # NULL v -> untouched
        got = {r["k"]: r["x"] for r in t.to_df().collect()}
        assert got == {1: 3.0, 2: 2.5}
        assert dict(t.to_df().dtypes)["x"] == "double"

    def test_unknown_assignment_column_raises(self, spark, tmp_path):
        t = _make(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown columns"):
            t.update_where("k = 1", {"nope": "1"})
