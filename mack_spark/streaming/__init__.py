"""Structured Streaming variants of the engine's operators.

The reference is batch-only (SURVEY §1: streams absent); this module is
the rebuild's extension for continuous ingest, mapping each batch
operator to its streaming twin:

===========================  =========================================
batch operator               streaming twin
===========================  =========================================
append_without_duplicates    :func:`streaming_dedup` (watermarked
                             ``dropDuplicates`` /
                             ``dropDuplicatesWithinWatermark``)
events_hourly (tumbling agg) :func:`tumbling_counts` (watermark +
                             ``F.window``)
sessionize                   :func:`session_counts` (``session_window``
                             with the same gap semantics)
type_2_scd_upsert            :func:`foreach_batch_scd2` (per-microbatch
                             MERGE into a DeltaProtocolTable)
===========================  =========================================

SCALE: watermarks bound state (late rows beyond the watermark are
dropped); ``dropDuplicatesWithinWatermark`` keeps only in-horizon keys
in the state store. The foreachBatch sinks are idempotent per epoch:
each microbatch commits as ONE ``DeltaProtocolTable.merge`` whose
commit also records the epoch id in the ``mack.streaming.epoch`` table
property (an empty microbatch commits the epoch alone), and a replayed
epoch at or below the recorded one is skipped (Delta's
txnAppId/txnVersion rule).
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mack_spark.rollup import rollup_keyed_merge
from mack_spark.scd import scd2_keyed_merge
from mack_spark.sources.delta_log import DeltaProtocolTable

STREAMING_EPOCH_PROP = "mack.streaming.epoch"


def _epoch_applied(table: DeltaProtocolTable, epoch_id: int) -> bool:
    """True when the table already holds microbatch ``epoch_id``: the
    epoch recorded by the last sink commit is at or above it."""
    config = table.snapshot().metadata.get("configuration") or {}
    done = config.get(STREAMING_EPOCH_PROP)
    return done is not None and epoch_id <= int(done)


def drain_available_now(start_query, max_runs: int = 1000) -> int:
    """Fully drain a RATE-LIMITED backlog under ``Trigger.AvailableNow``
    by looping bounded runs until the source reports no new data.

    Why this exists: pyspark's engine falls back to SINGLE-batch
    execution for Python DataSources under availableNow (the Python
    DataSource API exposes no ``SupportsTriggerAvailableNow`` hook;
    the engine logs "does not support Trigger.AvailableNow. Falling
    back to single batch execution"), so one ``start()`` of a
    rate-limited ``delta_protocol`` stream processes exactly ONE
    bounded chunk. Looping runs against the SAME checkpoint delivers
    Spark's availableNow contract — drain everything available, in
    bounded batches — with exactly-once preserved per run by the
    engine's offset/commit logs.

    ``start_query`` must start and return a fresh ``StreamingQuery``
    wired to the same ``checkpointLocation`` on each call. Returns the
    number of runs executed (the last run is the empty one that proves
    the backlog is drained).

    SCALE: each run's batch is bounded by maxFilesPerTrigger /
    maxBytesPerTrigger, so a 100 TB initial snapshot drains as
    ⌈files/maxFiles⌉ checkpointed batches instead of one giant one.
    """
    runs = 0
    while runs < max_runs:
        q = start_query()
        q.awaitTermination()
        runs += 1
        progress = q.lastProgress
        if not progress or not progress.get("numInputRows"):
            break
    return runs


def run_stream_to_batch(
    spark: SparkSession,
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int = 8,
) -> DataFrame:
    """Execute a streaming transform over a bounded streaming source and
    return the final result as a batch DataFrame.

    This is the verification harness for the streaming twins: a real
    Structured Streaming run (streaming ``stream`` → transform →
    ``trigger(availableNow)`` → memory sink), drained to completion so
    the result is comparable with the batch/oracle answer. The memory
    sink collects to the driver — use only for tests/verification; the
    production path swaps in a file/Delta sink with a checkpoint.

    ``shuffle_partitions`` sizes the state store: each stateful streaming
    partition is its own state-store instance with per-batch snapshot
    I/O, so partition count should track key cardinality / throughput,
    not the batch-side CPU count (32 stores for a few hundred keys is
    pure overhead — measured ~2× on the bounded fixtures). Pass 0 to
    leave the session setting untouched.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def streaming_dedup(
    stream: DataFrame,
    keys: List[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    within_watermark: bool = False,
) -> DataFrame:
    """Drop duplicate events by key on an unbounded stream.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark`` —
    dedup among rows whose event times fall inside the watermark
    horizon, with state evicted as the watermark advances (the only
    sane mode at 100 TB/day); ``False`` is exact global dedup whose
    state grows with distinct keys.
    """
    wm = stream.withWatermark(ts_col, watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def tumbling_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
    group_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming twin of the
    batch ``events_hourly`` rollup)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *(group_cols or []))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
    group_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Sliding-window counts: each event lands in ``window/slide``
    overlapping windows (Spark expands the windows map-side; state is
    one aggregate row per open window per group, bounded by the
    watermark)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), *(group_cols or []))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
        )
    )


def session_counts(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based session aggregation via ``session_window`` — the
    streaming twin of :func:`mack_spark.operators.sessionize` (same gap
    rule; sessions close when the watermark passes gap after the last
    event)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def user_running_stats(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count, distinct-type count, and first/last event time,
    emitted each microbatch.

    This is the capability the built-in windowed aggregates can't
    express — arbitrary per-key state (here a distinct-type set plus
    min/max watermark-free timestamps) carried across microbatches in
    the state store, updated with Arrow-batched pandas (not row-at-a-time
    Python). SCALE: state is one small tuple per user; the distinct-type
    set is bounded by the event-type cardinality. For unbounded key
    domains a production deployment adds a timeout
    (``GroupStateTimeout.ProcessingTimeTimeout``) to evict idle keys.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{user_col} bigint, n_events bigint, n_types int, "
        "first_ts timestamp, last_ts timestamp"
    )
    state_schema = "n bigint, types string, first_us bigint, last_us bigint"

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            n, types_s, first_us, last_us = state.get
            types = set(types_s.split("|")) if types_s else set()
        else:
            n, types, first_us, last_us = 0, set(), None, None
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            types.update(pdf[type_col].astype(str))
            us = pdf[ts_col].astype("int64") // 1000  # ns → µs
            mn, mx = int(us.min()), int(us.max())
            first_us = mn if first_us is None else min(first_us, mn)
            last_us = mx if last_us is None else max(last_us, mx)
        state.update((n, "|".join(sorted(types)), first_us, last_us))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "n_events": [n],
                "n_types": [len(types)],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def latest_state_per_key(df: DataFrame, key_col: str, version_col: str) -> DataFrame:
    """Collapse an update-mode emission log to the final state per key
    (the row with the highest ``version_col`` — running counts only grow,
    so the max-count row IS the final state)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def foreach_batch_scd2(
    table: DeltaProtocolTable,
    primary_key: str,
    attr_col_names: List[str],
    is_current_col_name: str = "is_current",
    effective_time_col_name: str = "effective_time",
    end_time_col_name: str = "end_time",
):
    """Build a ``foreachBatch`` function applying each microbatch as an
    SCD2 upsert (:func:`~mack_spark.scd.scd2_keyed_merge`) into a
    DeltaProtocolTable.

    Idempotent on retries: the merge commit records the epoch id, and a
    replayed microbatch whose epoch is at or below it is skipped
    (txnVersion pattern).

    Usage::

        q = (stream.writeStream.foreachBatch(
                foreach_batch_scd2(table, "id", ["attr"]))
             .option("checkpointLocation", ckpt).start())
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_applied(table, epoch_id):
            return
        # Late/duplicate keys inside one microbatch: keep the latest
        # effective_time per key so the merge sees one row per key.
        from pyspark.sql import Window

        w = Window.partitionBy(primary_key).orderBy(
            F.col(effective_time_col_name).desc()
        )
        deduped = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # a micro-batch touches only its own keys, so each epoch
        # rewrites only the files holding them — per-epoch MERGE cost
        # stays proportional to batch size, not table size
        table.merge(
            scd2_keyed_merge(
                table.to_df(),
                deduped,
                primary_key,
                attr_col_names,
                is_current_col_name,
                effective_time_col_name,
                end_time_col_name,
            ),
            extra_config={STREAMING_EPOCH_PROP: str(epoch_id)},
        )

    return apply_batch


def foreach_batch_scd2_cdf(
    table: DeltaProtocolTable,
    primary_key: str,
    attr_col_names: List[str],
    is_current_col_name: str = "is_current",
    effective_time_col_name: str = "effective_time",
    end_time_col_name: str = "end_time",
):
    """``foreachBatch`` applying a streamed CHANGE DATA FEED as SCD2
    history — the reference's ``type_2_scd_upsert`` pattern (reference
    mack/__init__.py:125-139) composed with Delta's CDF: the dimension
    table FOLLOWS an upstream table's row-level changes instead of a
    raw append stream, so upstream UPDATEs and DELETEs maintain the
    history correctly (a raw stream cannot express them).

    Batch rows are CDF rows (table columns + ``_change_type`` /
    ``_commit_version`` / ``_commit_timestamp``, e.g. from
    ``spark.readStream.format("delta_protocol")
    .option("readChangeFeed", "true")``):

    * ``insert`` / ``update_postimage`` → SCD2 upsert (close the
      current row, open a new one at the row's effective time);
    * ``update_preimage`` → ignored (the postimage carries the change);
    * ``delete`` → close-out: the key's current row ends at the commit
      timestamp and NO new row opens — upstream hard deletes become
      history closure, not history loss.

    When a key changes several times inside one microbatch, the change
    from the HIGHEST ``_commit_version`` wins (latest state), matching
    what a per-commit replay would converge to.

    Each microbatch is ONE merge: the upserts are staged exactly as in
    :func:`~mack_spark.scd.scd2_keyed_merge`, and each delete is one
    more staged row that matches its key's current row, closes it at
    ``_commit_timestamp`` and never takes the insert clause.
    Idempotent on retries via the same epoch-id txn pattern as
    :func:`foreach_batch_scd2`.

    SCALE: each microbatch is O(changed rows); the merge rewrites only
    the files holding the touched keys, so following a 100 TB upstream
    costs the change volume, never a table rescan.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_applied(table, epoch_id):
            return
        import dataclasses

        from pyspark.sql import Window

        changes = batch_df.filter(
            F.col("_change_type").isin(
                "insert", "update_postimage", "delete"
            )
        )
        # latest change per key across the batch's commits; ties within
        # one commit resolve by effective time (late duplicates)
        w = Window.partitionBy(primary_key).orderBy(
            F.col("_commit_version").desc(),
            F.col(effective_time_col_name).desc_nulls_last(),
        )
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        ).persist()
        try:
            base = table.to_df()
            upd_cols = [c for c in base.columns if c in latest.columns]
            is_del = F.col("_change_type") == "delete"
            ups = latest.filter(~is_del).select(*upd_cols)
            km = scd2_keyed_merge(
                base,
                ups,
                primary_key,
                attr_col_names,
                is_current_col_name,
                effective_time_col_name,
                end_time_col_name,
            )
            # every staged row carries its close time (__end) and
            # whether it is a delete; latest-wins above keeps the
            # upsert and delete key sets disjoint
            staged = km.source.withColumn(
                "__end", F.col(effective_time_col_name)
            ).withColumn("__del", F.lit(False))
            closes = latest.filter(is_del).select(
                F.col(primary_key).alias("mergeKey"),
                *upd_cols,
                F.col("_commit_timestamp").alias("__end"),
                F.lit(True).alias("__del"),
            )
            s = km.source_alias
            table.merge(
                dataclasses.replace(
                    km,
                    source=staged.unionByName(closes),
                    matched_update={
                        is_current_col_name: "false",
                        end_time_col_name: f"{s}.__end",
                    },
                    matched_update_condition=(
                        f"({km.matched_update_condition}) OR"
                        f" ({km.target_alias}.`{is_current_col_name}`"
                        f" = true AND {s}.__del)"
                    ),
                    not_matched_condition=f"NOT {s}.__del",
                ),
                extra_config={STREAMING_EPOCH_PROP: str(epoch_id)},
            )
        finally:
            latest.unpersist(blocking=False)

    return apply_batch


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the clicks
    by the same user in the preceding ``horizon``.

    Both sides carry watermarks AND the join condition is time-bounded
    (purchase_ts in [click_ts, click_ts + horizon]) — together these
    let Spark evict join state as the watermark advances; without the
    time bound, both sides' state grows forever, which is the classic
    stream-stream join OOM at scale. The equi part (user_id) keys the
    state store; the range part bounds its lifetime.

    Returns one row per (click, purchase) attribution pair with the
    click hour, for downstream rollup.
    """
    c = (
        clicks.withWatermark(ts_col, watermark)
        .select(
            F.col(user_col).alias("c_user"),
            F.col(ts_col).alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark(ts_col, watermark)
        .select(
            F.col(user_col).alias("p_user"),
            F.col(ts_col).alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "inner",
    )


def foreach_batch_rollup(
    table: DeltaProtocolTable,
    group_cols: List[str],
):
    """Build a ``foreachBatch`` function maintaining a continuous
    aggregate (a "hypertable rollup"): the target table keeps one row
    per ``group_cols`` with running ``n_events`` / ``value_fp`` (the
    fix-pointed value sum), updated by MERGING each microbatch's
    partial aggregate (:func:`~mack_spark.rollup.rollup_keyed_merge`).

    The incremental-view-maintenance pattern for streaming rollups:
    each microbatch is aggregated DOWN to one row per touched group
    first (count + decimal sum are mergeable partials), so the merge
    touches O(groups-in-batch) rows, not O(events). Replays are
    idempotent via the recorded epoch id, the same txnVersion rule as
    :func:`foreach_batch_scd2`.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_applied(table, epoch_id):
            return
        partial = batch_df.groupBy(*group_cols).agg(
            F.count("*").alias("d_n"),
            F.sum(
                F.floor(F.col("value") * F.lit(10000.0)).cast("decimal(38,0)")
            ).alias("d_fp"),
        )
        table.merge(
            rollup_keyed_merge(partial, group_cols),
            extra_config={STREAMING_EPOCH_PROP: str(epoch_id)},
        )

    return apply_batch
