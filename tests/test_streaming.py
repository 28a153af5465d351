"""Streaming-twin tests: foreachBatch SCD2 (real writeStream run +
epoch idempotency) and the run_stream_to_batch harness."""

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mack_spark.scd import scd2_post_state
from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.streaming import (
    STREAMING_EPOCH_PROP,
    foreach_batch_scd2,
    run_stream_to_batch,
)

from conftest import assert_df_equality

SCHEMA = StructType(
    [
        StructField("pkey", IntegerType()),
        StructField("attr", StringType()),
        StructField("is_current", BooleanType()),
        StructField("effective_time", TimestampType()),
        StructField("end_time", TimestampType()),
    ]
)

T0 = dt.datetime(2020, 1, 1)
T1 = dt.datetime(2020, 6, 1)


def _base(spark):
    return spark.createDataFrame(
        [
            (1, "A", True, T0, None),
            (2, "B", True, T0, None),
        ],
        SCHEMA,
    )


def _updates(spark):
    return spark.createDataFrame(
        [(2, "Z", True, T1, None)],
        SCHEMA,
    )


def assert_epoch_commit(table, version_before, epoch_id):
    """The sink committed exactly one version, and that one commit holds
    both the merged rows and the recorded epoch."""
    version = table.snapshot().version
    assert version == version_before + 1
    actions = table._commit_actions(version)
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["configuration"][STREAMING_EPOCH_PROP] == str(epoch_id)
    assert any("add" in a for a in actions)


def test_foreach_batch_scd2_applies_and_is_epoch_idempotent(spark, tmp_path):
    table = DeltaProtocolTable.create(spark, str(tmp_path / "scd"), _base(spark))
    apply_batch = foreach_batch_scd2(table, "pkey", ["attr"])

    apply_batch(_updates(spark), epoch_id=0)
    assert_epoch_commit(table, 0, 0)
    expected = spark.createDataFrame(
        [
            (1, "A", True, T0, None),
            (2, "B", False, T0, T1),
            (2, "Z", True, T1, None),
        ],
        SCHEMA,
    )
    assert_df_equality(
        table.to_df().select("pkey", "attr", "is_current", "effective_time", "end_time"),
        expected,
    )

    # Replayed microbatch (same epoch id) must be a no-op.
    versions_before = table.snapshot().version
    apply_batch(_updates(spark), epoch_id=0)
    assert table.snapshot().version == versions_before
    assert_df_equality(
        table.to_df().select("pkey", "attr", "is_current", "effective_time", "end_time"),
        expected,
    )

    # A NEW epoch applies again (re-sending the now-current row is an
    # SCD2 no-op on the data, but the epoch must be recorded/applied).
    apply_batch(_updates(spark), epoch_id=1)
    assert_df_equality(
        table.to_df().select("pkey", "attr", "is_current", "effective_time", "end_time"),
        expected,
    )


def test_foreach_batch_scd2_real_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    _updates(spark).write.parquet(src)
    table = DeltaProtocolTable.create(spark, str(tmp_path / "scd_stream"), _base(spark))

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_scd2(table, "pkey", ["attr"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    post = scd2_post_state(
        _base(spark), _updates(spark), "pkey", ["attr"],
        "is_current", "effective_time", "end_time",
    )
    assert_df_equality(
        table.to_df().select(*[f.name for f in SCHEMA.fields]),
        post.select(*[f.name for f in SCHEMA.fields]),
    )


def test_run_stream_to_batch_matches_batch_aggregate(spark, tmp_path):
    src = str(tmp_path / "events_src")
    rows = [(i, dt.datetime(2020, 1, 1, hour=i % 3), "t") for i in range(30)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    df.write.parquet(src)

    out = run_stream_to_batch(
        spark,
        spark.readStream.schema(df.schema).parquet(src),
        lambda s: s.withWatermark("ts", "1 hour")
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select("event_type", F.col("window.start").alias("ws"), "n"),
        name="t_hourly",
    )
    expected = (
        df.groupBy("event_type", F.date_trunc("hour", "ts").alias("ws"))
        .agg(F.count("*").alias("n"))
        .select("event_type", "ws", "n")
    )
    assert_df_equality(out, expected)


def test_foreach_batch_rollup_incremental_and_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from mack_spark.streaming import foreach_batch_rollup

    empty = spark.createDataFrame(
        [], "g string, n_events bigint, value_fp decimal(38,0)"
    )
    table = DeltaProtocolTable.create(spark, str(tmp_path / "rollup"), empty)
    apply_batch = foreach_batch_rollup(table, ["g"])

    b1 = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 10.0)], "g string, value double"
    )
    b2 = spark.createDataFrame(
        [("a", 0.25), ("c", -3.0)], "g string, value double"
    )
    apply_batch(b1, 0)
    assert_epoch_commit(table, 0, 0)
    apply_batch(b2, 1)
    assert_epoch_commit(table, 1, 1)
    apply_batch(b2, 1)  # replayed epoch must be a no-op
    apply_batch(b1, 0)  # so is any epoch below the recorded one

    got = {
        r["g"]: (r["n_events"], float(r["value_fp"]) / 10000.0)
        for r in table.to_df().collect()
    }
    assert got == {"a": (3, 4.25), "b": (1, 10.0), "c": (1, -3.0)}
    # exactly two applied epochs: the replays committed nothing
    assert table.snapshot().version == 2
    # an empty microbatch records its epoch and changes no row
    apply_batch(b1.limit(0), 2)
    assert table.snapshot().version == 3
    assert table.detail()["properties"][STREAMING_EPOCH_PROP] == "2"
    assert table.to_df().count() == 3


def test_foreach_batch_rollup_null_values_match_direct_aggregation(
    spark, tmp_path
):
    """NULL event values follow SUM's rule in the running sum: an
    all-NULL batch keeps a group's sum, and a group whose sum is NULL
    takes its first non-NULL value."""
    from pyspark.sql import functions as F

    from mack_spark.streaming import foreach_batch_rollup

    empty = spark.createDataFrame(
        [], "g string, n_events bigint, value_fp decimal(38,0)"
    )
    table = DeltaProtocolTable.create(spark, str(tmp_path / "rollup"), empty)
    apply_batch = foreach_batch_rollup(table, ["g"])
    batches = [
        [("a", 1.5), ("a", None), ("n", None)],
        [("a", None), ("n", None), ("m", None)],
        [("n", 2.0), ("m", None), ("a", 0.5)],
    ]
    seen = []
    for epoch, rows in enumerate(batches):
        apply_batch(spark.createDataFrame(rows, "g string, value double"), epoch)
        seen += rows
        expected = (
            spark.createDataFrame(seen, "g string, value double")
            .groupBy("g")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 10000.0).cast("decimal(38,0)")
                ).alias("value_fp"),
            )
        )
        assert_df_equality(table.to_df(), expected)


def test_streaming_sessionize_matches_batch_under_late_data(spark, tmp_path):
    """Property: a real Structured Streaming run of session_counts over
    randomly SHUFFLED arrival order (late data, multiple microbatches
    via maxFilesPerTrigger=1) must produce exactly the sessions the
    batch sessionize computes on the same events, as long as lateness
    stays within the watermark.

    Correspondence: session_window's end is last-event + gap, the batch
    operator's session_end is the last event itself. Gaps are generated
    away from the exact 30-minute boundary, where the two definitions
    legitimately differ (batch `>` vs window non-overlap)."""
    import random

    from mack_spark.operators.sessionize import sessionize
    from mack_spark.streaming import session_counts

    rng = random.Random(13)
    rows = []
    for user in range(6):
        t = dt.datetime(2021, 1, 1) + dt.timedelta(seconds=rng.randrange(3600))
        for _ in range(rng.randint(5, 25)):
            rows.append((user, t))
            gap_s = (
                rng.randint(1, 1500)
                if rng.random() < 0.6
                else rng.randint(2100, 7200)
            )
            t += dt.timedelta(seconds=gap_s)
    rng.shuffle(rows)  # arrival order != event-time order

    src = str(tmp_path / "events")
    chunks = 5
    for i in range(chunks):
        spark.createDataFrame(
            rows[i::chunks], "user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream_to_batch(
        spark,
        stream,
        lambda s: session_counts(s, gap="30 minutes", watermark="30 days"),
        name="prop_sessions",
    )
    batch = sessionize(
        spark.createDataFrame(rows, "user_id long, ts timestamp"),
        gap_minutes=30,
    )
    b = {
        (
            r["user_id"],
            r["session_start"],
            r["n_events"],
            r["session_end"] + dt.timedelta(minutes=30),
        )
        for r in batch.collect()
    }
    s_ = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_end"])
        for r in got.collect()
    }
    assert s_ == b, (sorted(s_ - b)[:5], sorted(b - s_)[:5])


def test_streaming_dedup_matches_batch_under_arrival_order(spark, tmp_path):
    """Property: exact streaming dedup over any arrival order (shuffled
    files, one file per microbatch, duplicates split across batches)
    yields exactly the batch distinct key set — state carries keys
    across epochs, so re-arrivals in later microbatches are dropped."""
    import random

    from mack_spark.streaming import streaming_dedup

    rng = random.Random(29)
    base = dt.datetime(2021, 1, 1)
    rows = []
    for k in range(40):
        for rep in range(rng.randint(1, 4)):  # 1-4 arrivals per key
            rows.append(
                (k % 7, f"type{k % 5}", base + dt.timedelta(seconds=k * 60 + rep))
            )
    rng.shuffle(rows)

    src = str(tmp_path / "dups")
    chunks = 6
    for i in range(chunks):
        spark.createDataFrame(
            rows[i::chunks], "user_id long, event_type string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream_to_batch(
        spark,
        stream,
        lambda s: streaming_dedup(s, ["user_id", "event_type"], ts_col="ts")
        .select("user_id", "event_type"),
        name="prop_dedup",
        output_mode="append",
    )
    want = {
        (r["user_id"], r["event_type"])
        for r in spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert {(r["user_id"], r["event_type"]) for r in got.collect()} == want
    assert got.count() == len(want)  # no key emitted twice across epochs


def test_streaming_scd2_crash_restart_exactly_once(spark, tmp_path):
    """Kill the SCD2 stream mid-run (AFTER an epoch's merge applied but
    before its checkpoint committed), restart from the same checkpoint,
    and verify the final table equals the batch post-state — the epoch
    recorded in the merge commit must absorb the replayed microbatch
    instead of double-applying it."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    base = spark.createDataFrame(
        [(k, "v0", True, T0, None) for k in range(1, 13)], SCHEMA
    )
    table = DeltaProtocolTable.create(spark, str(tmp_path / "scd_cr"), base)

    # four single-file chunks with DISJOINT keys (order-commutative)
    src = str(tmp_path / "src")
    chunks = [range(1, 4), range(4, 7), range(7, 10), range(10, 13)]
    for ch in chunks:
        spark.createDataFrame(
            [(k, "v1", True, T1, None) for k in ch], SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

    inner = foreach_batch_scd2(table, "pkey", ["attr"])
    calls = []

    def crashing(batch_df, epoch_id):
        inner(batch_df, epoch_id)  # merge lands...
        calls.append(epoch_id)
        if len(calls) == 3:
            raise RuntimeError("injected crash after apply, before commit")

    def start(fn):
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start(crashing)
    with _pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()

    q2 = start(inner)  # resume: epoch 2 replays, ledger must skip it
    q2.awaitTermination()

    all_updates = spark.createDataFrame(
        [(k, "v1", True, T1, None) for k in range(1, 13)], SCHEMA
    )
    post = scd2_post_state(
        base, all_updates, "pkey", ["attr"],
        "is_current", "effective_time", "end_time",
    )
    assert_df_equality(
        table.to_df().select(*[f.name for f in SCHEMA.fields]),
        post.select(*[f.name for f in SCHEMA.fields]),
    )
    # every key closed exactly one old row and holds exactly one current
    cur = table.to_df().filter("is_current").groupBy("pkey").count().collect()
    assert all(r["count"] == 1 for r in cur) and len(cur) == 12


def test_streaming_rollup_crash_restart_exactly_once(spark, tmp_path):
    """Same crash-after-apply/restart discipline for the continuous
    rollup: the replayed epoch's partial aggregate must not be merged
    twice, so every group's final count/sum equals the batch answer."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mack_spark.streaming import foreach_batch_rollup

    empty = spark.createDataFrame(
        [], "g string, n_events bigint, value_fp decimal(38,0)"
    )
    table = DeltaProtocolTable.create(spark, str(tmp_path / "rollup_cr"), empty)

    src = str(tmp_path / "src")
    chunks = [
        [("a", 1.0), ("b", 2.0)],
        [("a", 3.0), ("c", 4.0)],
        [("b", 5.0), ("c", 6.0)],
        [("a", 7.0)],
    ]
    for ch in chunks:
        spark.createDataFrame(ch, "g string, value double").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    inner = foreach_batch_rollup(table, ["g"])
    calls = []

    def crashing(batch_df, epoch_id):
        inner(batch_df, epoch_id)
        calls.append(epoch_id)
        if len(calls) == 3:
            raise RuntimeError("injected crash after apply")

    def start(fn):
        return (
            spark.readStream.schema("g string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start(crashing)
    with _pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    q2 = start(inner)
    q2.awaitTermination()

    got = {
        r["g"]: (r["n_events"], float(r["value_fp"]) / 10000.0)
        for r in table.to_df().collect()
    }
    assert got == {"a": (3, 11.0), "b": (2, 7.0), "c": (2, 10.0)}
