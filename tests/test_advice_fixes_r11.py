"""Round-11 regression tests for the four ADVICE findings:

1. The rate-limited streaming source's admission cursor can never sit
   below an offset the engine has logged: pyspark's
   ``PythonMicroBatchStream`` implements ``AcceptsLatestSeenOffset``
   and forwards the checkpointed offset as a ``partitions(X, X)`` call
   BEFORE any ``latestOffset`` on every restart — even when the last
   batch was fully committed. That engine handshake (plus seeding the
   cursor from ``start``) is what makes exactly-once hold, so it is
   pinned here; if a pyspark upgrade ever drops it, these tests fail
   loudly instead of the source silently replaying rows.
2. The protocol-table rollup watermark is transactional: created in
   the same commit as the initial materialization (from the PINNED
   snapshot version), advanced in the SAME commit as the refresh
   MERGE — a crash between "apply changes" and "record watermark" can
   never double-count a change range.
3. Streaming CDF ``_commit_timestamp`` is an exact instant (epoch
   millis decoded to tz-aware UTC), equal to batch ``table_changes``
   in ANY session time zone — not a naive string re-interpreted in
   session-local time.
4. Derived CDF uses an inverted allowlist: add+remove commits without
   cdc actions derive only for whole-file-replacement operations
   (WRITE overwrite / RESTORE); unknown foreign operations raise
   instead of being misrepresented as whole-file churn.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
    _now_ms,
)
from mack_spark.streaming.delta_source import (
    DeltaProtocolDataSource,
    DeltaProtocolStreamReader,
    DeltaStreamChangeError,
    register,
)


def _mk_versions(spark, path, versions=2, files_per=4, rows=5):
    n = rows * files_per
    base = spark.range(n).selectExpr("cast(id as int) pkey").repartition(
        files_per
    )
    t = DeltaProtocolTable.create(spark, path, base)
    for v in range(1, versions):
        t.append(
            spark.range(v * n, (v + 1) * n)
            .selectExpr("cast(id as int) pkey")
            .repartition(files_per)
        )
    return t, versions * n


class TestRestartSeedsCursor:
    """ADVICE #1: unseeded-cursor latestOffset after a restart."""

    def test_engine_seeds_cursor_before_latest_offset_on_restart(
        self, spark, tmp_path
    ):
        """Pin the AcceptsLatestSeenOffset handshake: on restart (with
        the previous run FULLY committed) the first reader calls are
        partitions(X, X) with the checkpointed offset — before any
        latestOffset — so the admission cursor is seeded and the next
        walk starts at the checkpoint, never below it."""
        trace = str(tmp_path / "calls.log")

        class TracedReader(DeltaProtocolStreamReader):
            def _t(self, msg):
                with open(trace, "a") as fh:
                    fh.write(msg + "\n")

            def initialOffset(self):
                r = super().initialOffset()
                self._t(f"initialOffset {json.dumps(r)}")
                return r

            def latestOffset(self):
                cur = self._cursor
                r = super().latestOffset()
                self._t(
                    f"latestOffset cursor={json.dumps(cur)}"
                    f" -> {json.dumps(r)}"
                )
                return r

            def partitions(self, start, end):
                r = super().partitions(start, end)
                self._t(
                    f"partitions|{json.dumps(start)}|{json.dumps(end)}"
                )
                return r

        class TracedSource(DeltaProtocolDataSource):
            @classmethod
            def name(cls):
                return "traced_delta_r11"

            def streamReader(self, schema):
                return TracedReader(schema, self.options)

        spark.dataSource.register(TracedSource)
        t, total = _mk_versions(spark, str(tmp_path / "t"), versions=2)
        out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")

        def run():
            q = (
                spark.readStream.format("traced_delta_r11")
                .option("path", t.path)
                .option("maxFilesPerTrigger", "3")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()  # fresh: one bounded chunk, fully committed on success
        open(trace, "a").write("=RESTART=\n")
        run()  # restart with nothing to re-plan

        lines = open(trace).read().splitlines()
        after = lines[lines.index("=RESTART=") + 1:]
        assert after, "restart produced no reader calls"
        # the engine's first post-restart call is the latest-seen
        # forward: partitions(X, X) with the checkpointed offset
        first = after[0]
        assert first.startswith("partitions|"), after
        _, s, e = first.split("|")
        assert s == e, after
        # and by the time latestOffset runs, the cursor holds exactly
        # that offset (no walk from startingVersion below it)
        latest = next(l for l in after if l.startswith("latestOffset"))
        assert f"cursor={s}" in latest, after

    def test_restart_after_full_commit_never_replays(self, spark, tmp_path):
        """E2E exactly-once across clean restarts: every row delivered
        exactly once even though each availableNow run re-opens the
        reader with an unseeded cursor."""
        register(spark)
        t, total = _mk_versions(spark, str(tmp_path / "t2"), versions=2)
        out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")

        def drain():
            q = (
                spark.readStream.format("delta_protocol")
                .option("path", t.path)
                .option("maxFilesPerTrigger", "3")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        got = []
        for _ in range(8):
            drain()
            got = sorted(r[0] for r in spark.read.parquet(out).collect())
            if len(got) >= total:
                break
        assert got == list(range(total))  # exactly once, no dupes/gaps

    def test_partitions_seeds_cursor_from_start(self, spark, tmp_path):
        t, _ = _mk_versions(spark, str(tmp_path / "t3"), versions=2)
        r = DeltaProtocolStreamReader(
            None, {"path": t.path, "maxfilespertrigger": "2"}
        )
        assert r._cursor is None
        # the latest-seen forward: partitions(X, X) — zero-length plan
        seed = {"version": 1, "index": 2}
        assert r.partitions(seed, seed) == []
        assert r._cursor == seed
        # the next admission walk starts AT the seed, not below it
        nxt = r.latestOffset()
        assert r._off_key(nxt) > r._off_key(seed)
        parts = r.partitions(seed, nxt)
        assert 0 < len(parts) <= 2


class TestRollupWatermarkTransactional:
    """ADVICE #2: watermark and merge in one commit."""

    def _mk_source(self, spark, path):
        df = spark.createDataFrame(
            [(i, f"g{i % 3}", float(i)) for i in range(30)],
            "id int, grp string, value double",
        )
        return DeltaProtocolTable.create(
            spark, path, df,
            properties={"delta.enableChangeDataFeed": "true"},
        )

    def test_create_records_watermark_in_version_zero(self, spark, tmp_path):
        from mack_spark.rollup import SOURCE_VERSION_PROP, create_rollup

        src = self._mk_source(spark, str(tmp_path / "src"))
        roll = create_rollup(
            src, str(tmp_path / "roll"), ["grp"], "value"
        )
        snap = roll.snapshot()
        assert snap.version == 0
        assert (
            snap.metadata["configuration"][SOURCE_VERSION_PROP] == "0"
        )

    def test_refresh_commits_merge_and_watermark_atomically(
        self, spark, tmp_path
    ):
        from mack_spark.rollup import (
            SOURCE_VERSION_PROP,
            create_rollup,
            refresh_rollup_incremental,
        )

        src = self._mk_source(spark, str(tmp_path / "src2"))
        roll = create_rollup(
            src, str(tmp_path / "roll2"), ["grp"], "value"
        )
        src.append(
            spark.createDataFrame(
                [(100, "g0", 5.0), (101, "g9", 7.0)],
                "id int, grp string, value double",
            )
        )
        v_before = roll.snapshot().version
        refresh_rollup_incremental(roll, src, ["grp"], "value")
        snap = roll.snapshot()
        # exactly ONE commit advanced the rollup
        assert snap.version == v_before + 1
        # ...and that single commit holds BOTH the metaData (new
        # watermark) and the merge's data actions
        actions = roll._commit_actions(snap.version)
        kinds = {k for a in actions for k in a}
        assert "metaData" in kinds and "add" in kinds
        meta = next(a["metaData"] for a in actions if "metaData" in a)
        assert meta["configuration"][SOURCE_VERSION_PROP] == "1"
        # values correct
        got = {
            r["grp"]: (r["n_events"], r["total_value"])
            for r in __import__(
                "mack_spark.rollup", fromlist=["rollup_as_view"]
            ).rollup_as_view(roll, ["grp"]).collect()
        }
        assert got["g9"] == (1, 7.0)
        assert got["g0"][0] == 11

    def test_empty_change_range_advances_watermark(self, spark, tmp_path):
        from mack_spark.rollup import (
            SOURCE_VERSION_PROP,
            create_rollup,
            refresh_rollup_incremental,
        )

        src = self._mk_source(spark, str(tmp_path / "src3"))
        roll = create_rollup(
            src, str(tmp_path / "roll3"), ["grp"], "value"
        )
        src.optimize()  # dataChange=false: no row-level changes
        v = refresh_rollup_incremental(roll, src, ["grp"], "value")
        assert v == src.snapshot().version
        assert (
            roll.detail()["properties"][SOURCE_VERSION_PROP] == str(v)
        )


class TestStreamingCdfTimestampInstant:
    """ADVICE #3: stream and batch CDF agree in any session tz."""

    def test_decode_is_tz_aware_utc(self):
        import datetime

        from mack_spark.streaming.delta_source import (
            _decode_partition_value,
        )

        got = _decode_partition_value("1723000000000", "timestamp_epoch_ms")
        assert got.tzinfo is not None
        assert got == datetime.datetime.fromtimestamp(
            1723000000.0, tz=datetime.timezone.utc
        )

    def test_stream_matches_batch_in_non_utc_session(self, spark, tmp_path):
        register(spark)
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            t = DeltaProtocolTable.create(
                spark, str(tmp_path / "cdf_tz"),
                spark.createDataFrame([(1, 10.0)], "pkey int, v double"),
                properties={"delta.enableChangeDataFeed": "true"},
            )
            t.append(spark.createDataFrame([(2, 20.0)], "pkey int, v double"))
            batch = {
                r["pkey"]: r["_commit_timestamp"]
                for r in t.table_changes(0).collect()
            }
            out, ckpt = str(tmp_path / "ot"), str(tmp_path / "ct")
            q = (
                spark.readStream.format("delta_protocol")
                .option("path", t.path)
                .option("readChangeFeed", "true")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            stream = {
                r["pkey"]: r["_commit_timestamp"]
                for r in spark.read.parquet(out).collect()
            }
            assert stream == batch, (stream, batch)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)


class TestDerivedCdfAllowlist:
    """ADVICE #4: unknown rewriting operations must not derive."""

    def _foreign_rewrite(self, t, op):
        """Append a handcrafted foreign commit with operation ``op``
        that adds and removes dataChange files without cdc actions."""
        snap = t.snapshot()
        victim = next(iter(snap.files))
        vf = os.path.join(
            t.path, "_delta_log", "%020d.json" % (snap.version + 1)
        )
        with open(vf, "w") as fh:
            fh.write(json.dumps({"commitInfo": {
                "timestamp": _now_ms(), "operation": op,
            }}) + "\n")
            fh.write(json.dumps({"remove": {
                "path": victim, "deletionTimestamp": _now_ms(),
                "dataChange": True,
            }}) + "\n")
            # re-add the same physical file under the same path: a
            # stand-in for "some rewritten file" that always exists
            fh.write(json.dumps({"add": dict(
                snap.files[victim], dataChange=True
            )}) + "\n")

    def _mk(self, spark, path):
        return DeltaProtocolTable.create(
            spark, path,
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "pkey int, v string"
            ).coalesce(1),
            properties={"delta.enableChangeDataFeed": "true"},
        )

    def test_unknown_op_rewrite_raises_batch(self, spark, tmp_path):
        t = self._mk(spark, str(tmp_path / "fk"))
        self._foreign_rewrite(t, "FSCK REPAIR TABLE")
        with pytest.raises(
            DeltaProtocolError, match="cannot be derived exactly"
        ):
            t.table_changes(1).collect()

    def test_missing_op_rewrite_raises_batch(self, spark, tmp_path):
        t = self._mk(spark, str(tmp_path / "fk2"))
        self._foreign_rewrite(t, "")
        with pytest.raises(
            DeltaProtocolError, match="cannot be derived exactly"
        ):
            t.table_changes(1).collect()

    def test_unknown_op_rewrite_raises_streaming(self, spark, tmp_path):
        from mack_spark.streaming.delta_source import _cdf_units, _table

        t = self._mk(spark, str(tmp_path / "fk3"))
        self._foreign_rewrite(t, "FSCK REPAIR TABLE")
        with pytest.raises(
            DeltaStreamChangeError, match="cannot be derived exactly"
        ):
            _cdf_units(_table(t.path), t.path, 1)

    def test_overwrite_still_derives_exactly(self, spark, tmp_path):
        t = self._mk(spark, str(tmp_path / "ow"))
        t.overwrite(
            spark.createDataFrame([(3, "c")], "pkey int, v string")
        )
        rows = sorted(
            (r["pkey"], r["_change_type"])
            for r in t.table_changes(1, 1).collect()
        )
        assert rows == [(1, "delete"), (2, "delete"), (3, "insert")]

    def test_restore_still_derives_exactly(self, spark, tmp_path):
        t = self._mk(spark, str(tmp_path / "rs"))
        t.append(spark.createDataFrame([(9, "z")], "pkey int, v string"))
        t.restore(0)
        rows = sorted(
            (r["pkey"], r["_change_type"])
            for r in t.table_changes(2, 2).collect()
        )
        assert rows == [(9, "delete")]

    def test_remove_only_unknown_op_still_derives(self, spark, tmp_path):
        """A commit that ONLY removes whole files is exact regardless
        of its operation label — whole-file deletes derive."""
        t = self._mk(spark, str(tmp_path / "rm"))
        snap = t.snapshot()
        victim = next(iter(snap.files))
        vf = os.path.join(t.path, "_delta_log", "%020d.json" % 1)
        with open(vf, "w") as fh:
            fh.write(json.dumps({"commitInfo": {
                "timestamp": _now_ms(), "operation": "SOME FOREIGN PURGE",
            }}) + "\n")
            fh.write(json.dumps({"remove": {
                "path": victim, "deletionTimestamp": _now_ms(),
                "dataChange": True,
            }}) + "\n")
        rows = sorted(
            (r["pkey"], r["_change_type"])
            for r in t.table_changes(1, 1).collect()
        )
        assert rows == [(1, "delete"), (2, "delete")]
