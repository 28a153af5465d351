"""Incremental materialized-aggregate maintenance — the batch twin of
the streaming continuous rollup (``foreach_batch_rollup``): bring a
rollup table (one row per group: ``n_events``, ``value_fp``) up to the
source table's current version by applying only the source's Change
Data Feed since the last refresh, never rescanning the whole source.

Count and fix-point-decimal sum are self-maintainable aggregates: an
``insert`` / ``update_postimage`` row contributes ``(+1, +v)``, a
``delete`` / ``update_preimage`` row ``(-1, -v)``, so the delta
aggregate is one map-side-combined pass over the change rows
(O(changes), not O(source)), and the commit is ONE keyed MERGE touching
only the groups the changes hit — update existing groups, insert new
ones, delete groups whose count reaches zero. The refresh watermark
(the last applied source version) rides in the rollup's table
properties, written by the same commit as the data, so refreshes are
idempotent and resumable.

Both tables are :class:`~mack_spark.sources.delta_log.DeltaProtocolTable`;
the source must have ``delta.enableChangeDataFeed=true``.

SCALE: refresh cost is O(change feed) + a merge over O(touched
groups); the merge rewrites only the files those groups live in. The
reference has no aggregate-maintenance surface (rebuild extension,
SURVEY.md §2d); the semantics mirror Delta-backed incremental
materialized views maintained by MERGE.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import KeyedMerge

SOURCE_VERSION_PROP = "mack.rollup.source_version"
_FP = 10000.0


def rollup_delta_cdf(
    changes: DataFrame, group_cols: List[str], value_col: str
) -> DataFrame:
    """Signed partial aggregate of a CDF frame: ``insert`` /
    ``update_postimage`` rows contribute ``(+1, +v)``, ``delete`` /
    ``update_preimage`` rows ``(-1, -v)`` — an update's pre/post pair
    nets to the value delta, so updates maintain the sum exactly
    without any row-identity bookkeeping."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    fp = F.floor(F.col(value_col) * F.lit(_FP)).cast("decimal(38,0)")
    return changes.groupBy(*group_cols).agg(
        F.sum(sign).cast("long").alias("d_n"),
        F.sum(sign.cast("decimal(38,0)") * fp).alias("d_fp"),
    )


def rollup_keyed_merge(delta: DataFrame, group_cols: List[str]) -> KeyedMerge:
    """The MERGE that adds a signed partial aggregate ``delta`` (one
    row per touched group: ``d_n``, ``d_fp``) to a rollup: matched
    groups add the delta, groups whose count reaches zero delete, new
    groups with a positive count insert. Group keys compare
    null-safely — ``groupBy`` puts NULL keys in one group, and that
    group must update in place, not insert a twin. The sum adds with
    SUM's NULL rule: a NULL side is ignored, so a group whose changed
    values are all NULL keeps its sum and a group whose sum is NULL
    (only NULL values so far) takes the first non-NULL delta. Without
    a count of non-NULL values, a group whose last non-NULL value is
    deleted keeps a sum of 0 where a full aggregate gives NULL."""
    return KeyedMerge(
        source=delta,
        condition=" AND ".join(f"t.`{g}` <=> s.`{g}`" for g in group_cols),
        matched_update={
            "n_events": "t.`n_events` + s.`d_n`",
            "value_fp": (
                "coalesce(t.`value_fp` + s.`d_fp`, t.`value_fp`, s.`d_fp`)"
            ),
        },
        matched_update_condition="t.`n_events` + s.`d_n` > 0",
        matched_delete=True,
        not_matched_insert={
            **{g: f"s.`{g}`" for g in group_cols},
            "n_events": "s.`d_n`",
            "value_fp": "s.`d_fp`",
        },
        not_matched_condition="s.`d_n` > 0",
        target_key_col=group_cols[0],
        source_key_col=group_cols[0],
        null_safe=True,
    )


def create_rollup(
    source: DeltaProtocolTable,
    rollup_path: str,
    group_cols: List[str],
    value_col: str = "value",
) -> DeltaProtocolTable:
    """Materialize the initial rollup from the source's current version
    and record that version as the refresh watermark."""
    # pin the snapshot version BEFORE materializing: to_df() without a
    # version would take a second, possibly newer snapshot (a
    # concurrent source commit between the two would make the recorded
    # watermark stale and the next refresh double-apply that commit's
    # changes); the watermark lands in the SAME commit as the data
    # (create-time properties), so there is no window where the rollup
    # exists without its watermark
    ver = source.snapshot().version
    init = (
        source.to_df(version_as_of=ver)
        .groupBy(*group_cols)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.floor(F.col(value_col) * F.lit(_FP)).cast("decimal(38,0)")
            ).alias("value_fp"),
        )
    )
    return DeltaProtocolTable.create(
        source.spark, rollup_path, init,
        properties={SOURCE_VERSION_PROP: str(ver)},
    )


def refresh_rollup_incremental(
    rollup: DeltaProtocolTable,
    source: DeltaProtocolTable,
    group_cols: List[str],
    value_col: str = "value",
    last_version: Optional[int] = None,
) -> int:
    """Bring the rollup up to the source's head by applying
    ``source.table_changes(watermark+1, head)`` — O(changed rows in
    range), never O(source) — and committing ONE keyed MERGE over the
    touched groups. Updates are handled natively (the CDF pre/post
    pair). Returns the source version the rollup now reflects; a no-op
    when already current."""
    if last_version is None:
        prop = rollup.detail()["properties"].get(SOURCE_VERSION_PROP)
        if prop is None:
            raise ValueError(
                f"rollup has no {SOURCE_VERSION_PROP} property and no "
                "last_version was given — create it with create_rollup()"
            )
        last_version = int(prop)
    cur_version = source.snapshot().version
    if cur_version == last_version:
        return cur_version
    changes = source.table_changes(last_version + 1, cur_version)
    delta = rollup_delta_cdf(changes, group_cols, value_col).localCheckpoint(
        eager=True
    )
    rollup.merge(
        rollup_keyed_merge(delta, group_cols),
        # the watermark rides the merge COMMIT itself: either the
        # applied changes and the new watermark both land or neither
        # does, so a crash can never leave a state that re-applies
        # (double-counts) the same change range on the next refresh.
        # A range without row-level changes (e.g. OPTIMIZE commits)
        # is an empty merge source: the commit then advances the
        # watermark alone.
        extra_config={SOURCE_VERSION_PROP: str(cur_version)},
    )
    return cur_version


def rollup_as_view(rollup: DeltaProtocolTable, group_cols: List[str]) -> DataFrame:
    """Read the rollup with the fix-point sum decoded back to double."""
    return rollup.to_df().select(
        *group_cols,
        "n_events",
        (F.col("value_fp").cast("double") / F.lit(_FP)).alias("total_value"),
    )
