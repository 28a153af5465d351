"""Incremental rollup maintenance (mack_spark/rollup.py) over the
Delta-protocol Change Data Feed, and the versioned reads a refresh
relies on: time travel and RESTORE across appends and overwrites."""

import pytest
from pyspark.sql import functions as F

from mack_spark.rollup import (
    SOURCE_VERSION_PROP,
    create_rollup,
    refresh_rollup_incremental,
    rollup_as_view,
)
from mack_spark.sources.delta_log import DeltaProtocolTable

from conftest import assert_df_equality


def _events(spark, rows):
    return spark.createDataFrame(rows, "grp string, value double")


def _cdf_source(spark, path, rows):
    return DeltaProtocolTable.create(
        spark, str(path), _events(spark, rows),
        properties={"delta.enableChangeDataFeed": "true"},
    )


def _expected(spark, rows):
    return _aggregate(_events(spark, rows))


def _aggregate(events):
    return (
        events
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (
                F.sum(
                    F.floor(F.col("value") * 10000.0).cast("decimal(38,0)")
                ).cast("double")
                / 10000.0
            ).alias("total_value"),
        )
    )


class TestInEraVersions:
    def test_toDF_version_across_appends_without_retention(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "t"), _events(spark, [("a", 1.0)])
        )
        t.append(_events(spark, [("b", 2.0)]))
        t.append(_events(spark, [("c", 3.0)]))
        assert {r["grp"] for r in t.to_df(version_as_of=0).collect()} == {"a"}
        assert {r["grp"] for r in t.to_df(version_as_of=1).collect()} == {"a", "b"}
        assert {r["grp"] for r in t.to_df().collect()} == {"a", "b", "c"}

    def test_changes_across_append(self, spark, tmp_path):
        t = _cdf_source(spark, tmp_path / "c", [("a", 1.0)])
        t.append(_events(spark, [("b", 2.0)]))
        ch = t.table_changes(1).collect()
        assert [(r["grp"], r["_change_type"]) for r in ch] == [("b", "insert")]

    def test_overwrite_breaks_era_but_retention_covers(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "o"), _events(spark, [("a", 1.0)])
        )
        t.append(_events(spark, [("b", 2.0)]))
        t.overwrite(_events(spark, [("z", 9.0)]))
        # the pre-overwrite version stays readable until VACUUM
        assert {r["grp"] for r in t.to_df(version_as_of=1).collect()} == {"a", "b"}
        assert {r["grp"] for r in t.to_df().collect()} == {"z"}


class TestIncrementalRollup:
    def test_follows_appends_and_deletes(self, spark, tmp_path):
        rows1 = [("a", 1.5), ("a", 2.0), ("b", 3.0)]
        t = _cdf_source(spark, tmp_path / "src", rows1)
        rollup = create_rollup(t, str(tmp_path / "r"), ["grp"])

        # append: new group + growth of existing
        rows2 = [("b", 1.0), ("c", 4.0)]
        t.append(_events(spark, rows2))
        refresh_rollup_incremental(rollup, t, ["grp"])
        got = rollup_as_view(rollup, ["grp"])
        assert_df_equality(got, _expected(spark, rows1 + rows2))

        # delete group a entirely and one b row
        t.delete_where("grp = 'a' OR value = 1.0")
        refresh_rollup_incremental(rollup, t, ["grp"])
        assert_df_equality(
            rollup_as_view(rollup, ["grp"]),
            _expected(spark, [("b", 3.0), ("c", 4.0)]),
        )
        # group 'a' row is GONE, not zeroed
        assert rollup.to_df().filter("grp = 'a'").count() == 0

    def test_refresh_is_idempotent_noop_when_current(self, spark, tmp_path):
        t = _cdf_source(spark, tmp_path / "s2", [("a", 1.0)])
        rollup = create_rollup(t, str(tmp_path / "r2"), ["grp"])
        v1 = refresh_rollup_incremental(rollup, t, ["grp"])
        v2 = refresh_rollup_incremental(rollup, t, ["grp"])
        assert v1 == v2
        assert int(rollup.detail()["properties"][SOURCE_VERSION_PROP]) == v2

    def test_missing_watermark_raises(self, spark, tmp_path):
        t = _cdf_source(spark, tmp_path / "s3", [("a", 1.0)])
        bare = DeltaProtocolTable.create(
            spark, str(tmp_path / "r3"),
            spark.createDataFrame([], "grp string, n_events long, value_fp decimal(38,0)"),
        )
        with pytest.raises(ValueError, match=SOURCE_VERSION_PROP.replace(".", r"\.")):
            refresh_rollup_incremental(bare, t, ["grp"])

    def test_null_group_maintained(self, spark, tmp_path):
        rows = [(None, 1.0), ("x", 2.0)]
        t = _cdf_source(spark, tmp_path / "s4", rows)
        rollup = create_rollup(t, str(tmp_path / "r4"), ["grp"])
        t.append(_events(spark, [(None, 3.0)]))
        refresh_rollup_incremental(rollup, t, ["grp"])
        got = {r["grp"]: r["n_events"] for r in rollup.to_df().collect()}
        assert got == {None: 2, "x": 1}

    def test_null_values_match_direct_aggregation(self, spark, tmp_path):
        """SUM ignores NULL values: a change range whose values are all
        NULL keeps the group's sum, and a group whose sum is NULL takes
        its first non-NULL value. Each refresh equals aggregating the
        source directly."""
        t = _cdf_source(
            spark, tmp_path / "s5", [("a", 1.0), ("a", None), ("n", None)]
        )
        rollup = create_rollup(t, str(tmp_path / "r5"), ["grp"])
        assert_df_equality(rollup_as_view(rollup, ["grp"]), _aggregate(t.to_df()))
        steps = [
            # only NULL values: existing sum kept, NULL sum stays NULL,
            # a new all-NULL group inserts with a NULL sum
            lambda: t.append(_events(spark, [("a", None), ("n", None), ("m", None)])),
            # first non-NULL value of the NULL-sum groups
            lambda: t.append(_events(spark, [("n", 2.5), ("m", None), ("m", -1.0)])),
            lambda: t.update_where("grp = 'a' AND value = 1.0", {"value": "4.0"}),
            lambda: t.delete_where("value IS NULL"),
        ]
        for step in steps:
            step()
            refresh_rollup_incremental(rollup, t, ["grp"])
            assert_df_equality(
                rollup_as_view(rollup, ["grp"]), _aggregate(t.to_df())
            )


class TestInEraRestore:
    def test_restore_to_pre_append_version(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "re"), _events(spark, [("a", 1.0)])
        )
        t.append(_events(spark, [("b", 2.0)]))
        t.append(_events(spark, [("c", 3.0)]))
        t.restore(1)  # back to {a, b}
        assert {r["grp"] for r in t.to_df().collect()} == {"a", "b"}
        # restore is a forward commit, not an undo
        assert t.snapshot().version == 3


class TestProtocolRollup:
    """Rollup maintained from the protocol table's REAL Change Data
    Feed — updates arrive as pre/post pairs and net to exact deltas."""

    def _mk(self, spark, tmp_path, rows):
        return _cdf_source(spark, tmp_path / "src", rows)

    def test_follows_merge_update_delete(self, spark, tmp_path):
        rows = [("a", 1.5), ("a", 2.5), ("b", 10.0), ("c", 3.0)]
        src = self._mk(spark, tmp_path, rows)
        rollup = create_rollup(
            src, str(tmp_path / "r"), ["grp"], "value"
        )
        # v: append
        src.append(_events(spark, [("b", 5.0), ("d", 7.0)]))
        # v: update_where (CDF pre/post pair)
        src.update_where("grp = 'a'", {"value": "value + 100"})
        # v: delete a whole group
        src.delete_where("grp = 'c'")
        refresh_rollup_incremental(rollup, src, ["grp"], "value")
        got = rollup_as_view(rollup, ["grp"]).orderBy("grp")
        final = [("a", 101.5), ("a", 102.5), ("b", 10.0), ("b", 5.0),
                 ("d", 7.0)]
        assert_df_equality(
            got,
            _expected(spark, final).orderBy("grp"),
        )
        # group c reached zero -> row deleted from the rollup
        assert rollup.to_df().where(F.col("grp") == "c").count() == 0

    def test_second_refresh_is_noop(self, spark, tmp_path):
        src = self._mk(spark, tmp_path, [("a", 1.0)])
        rollup = create_rollup(
            src, str(tmp_path / "r"), ["grp"], "value"
        )
        src.append(_events(spark, [("b", 2.0)]))
        v1 = refresh_rollup_incremental(rollup, src, ["grp"], "value")
        ver_before = rollup.snapshot().version
        v2 = refresh_rollup_incremental(rollup, src, ["grp"], "value")
        assert v1 == v2
        assert rollup.snapshot().version == ver_before  # no commit
