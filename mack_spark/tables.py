"""The ``KeyedMerge`` descriptor and mack's table-level utilities.

mack's row-level mutations (SCD2 upsert, the dedup family, guarded
appends, rollups, the foreachBatch sinks) all commit through one table
type, the Delta-protocol table
(:class:`mack_spark.sources.delta_log.DeltaProtocolTable`), whose
``merge`` executes a :class:`KeyedMerge` with Delta's file-pruned
rewrite (reference mack/__init__.py:125-139, :190-192).

The utilities below are the reference's table helpers over that same
handle: ``copy_table``, ``rename_table``/``rename_delta_table``,
``latest_version`` and the file-size report (reference
mack/__init__.py:287-325, :459-509, :616-627, :696-737). Time travel,
VACUUM, SHALLOW CLONE and OPTIMIZE are methods of the table itself.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import shutil
from typing import Dict, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from mack_spark.sources.delta_log import DeltaProtocolTable


@dataclasses.dataclass
class KeyedMerge:
    """Declarative description of a keyed MERGE — the clauses of
    ``DeltaTable.alias(...).merge(...)``. mack's mutating functions
    build one and hand it to
    :meth:`~mack_spark.sources.delta_log.DeltaProtocolTable.merge`,
    which rewrites only the files holding matching keys (reference
    mack/__init__.py:125-139); :mod:`mack_spark.merge_exec` holds the
    clause semantics.

    ``condition`` and every expression string are SQL over
    ``target_alias`` / ``source_alias`` columns, exactly as
    ``DeltaTable.alias(...).merge(...)`` consumes them.
    ``not_matched_insert`` is either the string ``"*"``
    (``whenNotMatchedInsertAll``) or a column→expression map;
    ``matched_update`` likewise accepts ``"*"``
    (``whenMatchedUpdateAll`` — every target column takes the
    same-named source column when the source has one, else keeps its
    value). ``matched_delete`` is True or a condition string.
    """

    source: DataFrame
    condition: str
    target_alias: str = "t"
    source_alias: str = "s"
    matched_update: Union[str, Dict[str, str], None] = None
    matched_update_condition: Optional[str] = None
    matched_delete: Union[bool, str, None] = None
    not_matched_insert: Union[str, Dict[str, str], None] = None
    # Optional insert-clause condition (Delta's whenNotMatchedInsert
    # condition=): a source row matching no target row inserts only when
    # this SQL evaluates true (NULL = false).
    not_matched_condition: Optional[str] = None
    # Delta's whenNotMatchedBySource clauses (delta-spark 2.3+): act on
    # TARGET rows no source row matched — the SCD-style prune/flag
    # side of MERGE. Update first, then delete (same first-applicable
    # ordering as the matched clauses); expressions may reference the
    # target alias only (source columns are all-NULL on these rows).
    not_matched_by_source_update: Optional[Dict[str, str]] = None
    not_matched_by_source_update_condition: Optional[str] = None
    not_matched_by_source_delete: Union[bool, str, None] = None
    # File-skipping contract: the caller asserts that ``condition``
    # IMPLIES ``t.target_key_col = s.source_key_col`` (``<=>`` when
    # null_safe) — i.e. a target row can only match when its key
    # equals some source key. DeltaProtocolTable.merge requires it and
    # uses per-file key statistics to leave every file whose key range
    # misses the source keys untouched — Delta MERGE's phase-1 skip.
    target_key_col: Optional[str] = None
    source_key_col: Optional[str] = None
    null_safe: bool = False


class ConcurrentModificationError(RuntimeError):
    """Another writer committed a version after this operation's snapshot
    read — the operation's post-state was computed against stale data,
    so committing it would silently drop the other writer's changes.

    Mirrors Delta Lake's optimistic-concurrency conflict surface
    (``ConcurrentAppendException`` etc., implied by every reference
    MERGE call site, reference mack/__init__.py:125-140): callers
    re-read the table and retry the whole operation.
    """


def _partition_value_str(value) -> str:
    """A partition value as Spark spells it in the directory name
    (``col=<this>``): lowercase booleans, ISO dates, Hive NULL marker.
    Supported partition-column types: str/int/bool/date/timestamp."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, datetime.datetime):
        return value.isoformat(sep=" ")
    return str(value)


def _to_df(source: Union[DeltaProtocolTable, DataFrame]) -> DataFrame:
    if isinstance(source, DataFrame):
        return source
    if isinstance(source, DeltaProtocolTable):
        return source.to_df()
    raise TypeError(f"expected a table or DataFrame, got {type(source)}")


# ---------------------------------------------------------------------------
# Table-level utilities (reference mack/__init__.py:287-325, :459-509,
# :616-627, :696-737)
# ---------------------------------------------------------------------------

def copy_table(
    table: DeltaProtocolTable,
    target_path: str = "",
    target_table: str = "",
    spark: Optional[SparkSession] = None,
) -> Optional[DeltaProtocolTable]:
    """Clone data + partitioning + properties, NOT history.

    Parity with reference ``copy_table`` (mack/__init__.py:287-325): the
    copy starts a fresh history (reference README.md:201). Like the
    reference, the target is either a filesystem path (``target_path``,
    returns the new :class:`DeltaProtocolTable`) or a metastore table
    name (``target_table`` → ``saveAsTable`` with the source's
    partitioning and properties carried as writer options, reference
    mack/__init__.py:312-318; returns None — the copy is owned by the
    catalog, query it via ``spark.table(target_table)``).
    """
    if not target_path and not target_table:
        raise TypeError("Either target_path or target_table must be specified.")
    details = table.detail()
    # The copy's files are written under logical column names, so the
    # source's column mapping (ids, physical names) does not carry over.
    props = {
        k: v for k, v in details["properties"].items()
        if not k.startswith("delta.columnMapping.")
    }
    if target_table:
        (
            table.to_df()
            .write.partitionBy(details["partitionColumns"])
            .options(**props)
            .saveAsTable(target_table)
        )
        return None
    return DeltaProtocolTable.create(
        spark or table.spark,
        target_path,
        df=table.to_df(),
        partition_by=details["partitionColumns"],
        properties=props,
    )


def rename_table(table: DeltaProtocolTable, new_path: str) -> DeltaProtocolTable:
    """Move a path-based table to a new location/name.

    The reference's non-Databricks path rewrites all data via
    ``saveAsTable`` and loses history (mack/__init__.py:735-737); a
    path-based table can simply be moved, preserving history — strictly
    better while keeping the observable contract (old name gone, new
    name serves the same rows).
    """
    new_path = os.path.abspath(new_path)
    if os.path.exists(new_path):
        raise ValueError(f"target {new_path} already exists")
    shutil.move(table.path, new_path)
    return DeltaProtocolTable(table.spark, new_path)


def rename_catalog_table(spark: SparkSession, old_name: str, new_name: str) -> None:
    """Rename a METASTORE-registered table with one DDL statement — the
    reference's Databricks branch (reference mack/__init__.py:733:
    ``ALTER TABLE ... RENAME TO``), which renames in catalog metadata
    without touching data files or history. The path-based twin is
    :func:`rename_table`. Works against any Spark catalog (tested on
    the local session catalog; on a Hive/Unity metastore it is the same
    statement).
    """
    if not old_name or not new_name:
        raise TypeError("both old_name and new_name must be provided")
    quote = lambda n: ".".join(f"`{p}`" for p in n.split("."))  # noqa: E731
    spark.sql(f"ALTER TABLE {quote(old_name)} RENAME TO {quote(new_name)}")


def latest_version(table: DeltaProtocolTable) -> int:
    """The table's current version (reference mack/__init__.py:616-627)."""
    return table.snapshot().version


def file_sizes(table: DeltaProtocolTable) -> Dict[str, Union[int, float]]:
    """``{size_in_bytes, number_of_files, average_file_size_in_bytes}``.

    Parity: average is ``round(size/files, 0)`` — a float in a dict of
    ints, as in the reference (mack/__init__.py:459-477).
    """
    d = table.detail()
    return {
        "size_in_bytes": d["sizeInBytes"],
        "number_of_files": d["numFiles"],
        "average_file_size_in_bytes": round(d["sizeInBytes"] / d["numFiles"], 0)
        if d["numFiles"]
        else 0.0,
    }


def show_file_sizes(table: DeltaProtocolTable, humanize_binary: bool = False) -> None:
    """Print humanized file sizes (reference mack/__init__.py:480-509)."""
    from mack_spark.fmt import humanize_bytes, humanize_bytes_binary

    fmt = humanize_bytes_binary if humanize_binary else humanize_bytes
    sizes = file_sizes(table)
    # Message shape matches the reference's show_delta_file_sizes output
    # (reference mack/__init__.py:480-509, asserted via capfd in tests:701-720).
    print(
        f"The delta table contains {sizes['number_of_files']:,} files "
        f"with a size of {fmt(sizes['size_in_bytes'])}."
        f" The average file size is {fmt(int(sizes['average_file_size_in_bytes']))}"
    )


def rename_delta_table(
    delta_table: DeltaProtocolTable,
    new_table_name: str,
    table_location: Optional[str] = None,
    databricks: bool = False,
    spark_session: Optional[SparkSession] = None,
) -> None:
    """The reference's flag-shaped rename, signature-for-signature
    (reference mack/__init__.py:696-738): ``databricks=True`` issues
    ``ALTER TABLE ... RENAME TO`` through the provided session (a
    catalog-metadata rename — data files untouched); otherwise the
    table's rows are materialized under the new catalog name via
    ``saveAsTable`` (the reference's non-Databricks behavior, which
    rewrites data and does not carry history). Error contract mirrors
    the reference exactly: TypeError for a non-table first argument,
    TypeError for ``databricks=True`` without a session.

    ``table_location`` names the CURRENT catalog entry for the
    databricks path (the reference reads ``delta_table.name``; a
    path-based table has no catalog name, so the caller supplies
    it — defaulting to the path's basename). History-preserving renames
    of path-based tables should use :func:`rename_table` instead.
    """
    if not isinstance(delta_table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified for delta_table.")
    if databricks and spark_session is None:
        raise TypeError("A spark session must be specified for databricks.")
    if databricks:
        old_name = table_location or os.path.basename(delta_table.path)
        rename_catalog_table(spark_session, old_name, new_table_name)
    else:
        delta_table.to_df().write.mode("overwrite").saveAsTable(new_table_name)


# Drop-in aliases under the reference's exact public names
# (mack/__init__.py:459 delta_file_sizes, :480 show_delta_file_sizes)
# so reference callers can switch imports without renaming call sites.
delta_file_sizes = file_sizes
show_delta_file_sizes = show_file_sizes
