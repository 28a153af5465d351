"""Deduplication table operations.

Reference surface: ``kill_duplicates`` (reference mack/__init__.py:144-192),
``drop_duplicates_pkey`` (:195-255), ``drop_duplicates`` (:258-284),
``append_without_duplicates`` (:383-412).

Each mutation is the reference's own Delta operation on a
:class:`~mack_spark.sources.delta_log.DeltaProtocolTable`: the two
delete-MERGEs and the insert-only MERGE become one
``DeltaProtocolTable.merge`` of a :class:`~mack_spark.tables.KeyedMerge`
(file-pruned: only files holding a matched key are rewritten), and
``drop_duplicates`` is the reference's full overwrite.

SCALE notes per operator are on the functions. The common theme: the
reference detects duplicates with an analytic window
(``count("*") over (partition by dup_cols)``) which shuffles the entire
table with no partial aggregation; this engine uses a groupBy (map-side
combine shrinks the shuffle to one row per key) — at 100 TB the grouped
key-set is orders of magnitude smaller than the windowed full table,
and it is the MERGE source, so the merge touches only files holding a
duplicate key.

``kill_duplicates_post`` / ``drop_duplicates_pkey_post`` /
``append_new_rows`` are the same mutations as pure read-only plans (the
oracle harness runs them against parquet inputs).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import KeyedMerge


def _require_columns(df: DataFrame, required: List[str]) -> None:
    for col in required:
        if col not in df.columns:
            raise TypeError(
                f"The base table has these columns {df.columns!r}, but these columns are required {required!r}"
            )


def kill_duplicates_post(df: DataFrame, duplication_columns: List[str]) -> DataFrame:
    """Post-state of kill_duplicates as a pure plan: rows whose
    duplication-column group has exactly one member."""
    dup_keys = (
        df.groupBy(*duplication_columns).count().filter(F.col("count") > 1).drop("count")
    )
    return df.join(dup_keys, duplication_columns, "left_anti").select(*df.columns)


def drop_duplicates_pkey_post(
    df: DataFrame, order_cols: List[str], duplication_columns: List[str]
) -> DataFrame:
    """Post-state of drop_duplicates_pkey as a pure plan: the first row
    per duplicate group under ``order_cols`` (reference survivor rule =
    min primary key, mack/__init__.py:240; a multi-column order makes
    the survivor total when one key column doesn't break all ties)."""
    w = Window.partitionBy(*duplication_columns).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def append_new_rows(target_df: DataFrame, append_df: DataFrame, p_keys: List[str]) -> DataFrame:
    """The rows append_without_duplicates would insert: batch-deduped,
    anti-joined against the target's keys."""
    return append_df.drop_duplicates(p_keys).join(
        target_df.select(*p_keys), p_keys, "left_anti"
    )


def kill_duplicates(table: DeltaProtocolTable, duplication_columns: List[str]) -> None:
    """Delete EVERY row belonging to a duplicate group — no survivor
    (reference mack/__init__.py:144-192; README.md:105-114).

    One MERGE of the duplicate key set with ``whenMatchedDelete``.
    SCALE: groupBy instead of a full-table window; the duplicate
    key-set after aggregation is tiny and only files holding one of
    its keys are rewritten.
    """
    if not isinstance(table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified.")
    if not duplication_columns or len(duplication_columns) == 0:
        raise TypeError("Duplication columns must be specified")
    df = table.to_df()
    _require_columns(df, duplication_columns)
    dup_keys = (
        df.groupBy(*duplication_columns).count().filter(F.col("count") > 1).drop("count")
    )
    table.merge(
        KeyedMerge(
            source=dup_keys,
            # plain equality, NOT <=>: the reference's merge condition
            # (mack/__init__.py:184-192, `old.col = new.col`) never
            # matches NULL-group rows, so NULL-keyed duplicates survive
            condition=" AND ".join(
                f"t.`{c}` = s.`{c}`" for c in duplication_columns
            ),
            matched_delete=True,
            target_key_col=duplication_columns[0],
            source_key_col=duplication_columns[0],
        )
    )


def drop_duplicates_pkey(
    table: DeltaProtocolTable, primary_key: str, duplication_columns: List[str]
) -> None:
    """Delete all but one row per duplicate group; survivor = lowest
    primary key (reference mack/__init__.py:195-255, survivor rule :240).

    The non-survivors (``row_number() over (partition by dup_cols order
    by pk) > 1``) are deleted by primary key in one MERGE. The ranking
    window is unavoidable here (we need a survivor), but it shuffles
    each group once and whole-stage codegen keeps it JVM-side; skewed
    duplicate groups are split by AQE.
    """
    if not isinstance(table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified.")
    if not primary_key:
        raise TypeError("A unique primary key must be specified.")
    if not duplication_columns or len(duplication_columns) == 0:
        raise TypeError("A duplication column must be specified.")
    if primary_key in duplication_columns:
        raise TypeError("Primary key must not be part of the duplication columns.")
    df = table.to_df()
    _require_columns(df, [primary_key] + duplication_columns)
    w = Window.partitionBy(*duplication_columns).orderBy(primary_key)
    losers = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(primary_key)
    )
    table.merge(
        KeyedMerge(
            source=losers,
            condition=f"t.`{primary_key}` = s.`{primary_key}`",
            matched_delete=True,
            target_key_col=primary_key,
            source_key_col=primary_key,
        )
    )


def drop_duplicates(table: DeltaProtocolTable, duplication_columns: List[str]) -> None:
    """Deduplicate by columns, arbitrary survivor, via full overwrite
    (reference mack/__init__.py:258-284 — README.md:160 itself flags the
    full rewrite as inefficient; kept for parity, ``drop_duplicates_pkey``
    is the scaled path)."""
    if not isinstance(table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified.")
    if not duplication_columns or len(duplication_columns) == 0:
        raise TypeError("A duplication column must be specified.")
    df = table.to_df()
    _require_columns(df, duplication_columns)
    table.overwrite(df.drop_duplicates(duplication_columns))


def append_without_duplicates(
    table: DeltaProtocolTable, append_df: DataFrame, p_keys: List[str]
) -> None:
    """Insert only rows whose keys are absent from the target; also
    dedupe within the batch (reference mack/__init__.py:383-412 — a
    ``whenNotMatchedInsertAll`` MERGE of the batch deduped on
    ``p_keys``).

    SCALE: an insert-only MERGE commits add-only — no target file is
    rewritten — and reads only the files whose key range holds a batch
    key. Unlike a plain append, the merge commit re-checks a
    concurrent writer's new files for the batch's keys and raises
    ``ConcurrentModificationError`` on a hit, so two racing ingests
    can never insert the same key twice.
    """
    if not isinstance(table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified.")
    table.merge(
        KeyedMerge(
            source=append_df.drop_duplicates(p_keys),
            condition=" AND ".join(f"t.`{k}` = s.`{k}`" for k in p_keys),
            not_matched_insert="*",
            target_key_col=p_keys[0],
            source_key_col=p_keys[0],
        )
    )
