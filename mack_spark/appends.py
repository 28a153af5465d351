"""Schema-gated and constraint-quarantine appends.

Reference surface: ``validate_append`` (reference mack/__init__.py:328-380)
and ``constraint_append`` (:630-693), over
:class:`~mack_spark.sources.delta_log.DeltaProtocolTable`.

Parity-critical semantics preserved (SURVEY §2c.6, §2c.10):

* ``validate_append``: required columns checked against the append df
  only; unknown columns rejected unless allowlisted in ``optional_cols``;
  write uses schema merge.
* ``constraint_append``: two independent appends (quarantine first, then
  target — not atomic as a pair); rows whose check constraint evaluates
  to NULL (three-valued logic) land in NEITHER table; ``quarantine_table
  = None`` silently drops violators; no constraints on the target is a
  ``TypeError``.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame

from mack_spark.sources.delta_log import DeltaProtocolTable


def validate_append(
    table: DeltaProtocolTable,
    append_df: DataFrame,
    required_cols: List[str],
    optional_cols: List[str],
) -> None:
    """Append gated on a column contract (reference mack/__init__.py:328-380)."""
    if not isinstance(table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified.")
    if not isinstance(append_df, DataFrame):
        raise TypeError("You must provide a DataFrame that is to be appended.")
    append_data_columns = append_df.columns
    for required_column in required_cols:
        if required_column not in append_data_columns:
            raise TypeError(
                f"The base Delta table has these columns {append_data_columns!r}, but these columns are required {required_cols!r}"
            )
    table_columns = table.to_df().columns
    for column in append_data_columns:
        if column not in table_columns and column not in optional_cols:
            raise TypeError(
                f"The column {column!r} is not part of the current Delta table."
                + " If you want to add the column to the table you must set the optional_cols parameter."
            )
    table.append(append_df, merge_schema=True)


def constraint_append(
    table: DeltaProtocolTable,
    append_df: DataFrame,
    quarantine_table: Optional[DeltaProtocolTable],
) -> None:
    """Split an append by the target's constraints (reference
    mack/__init__.py:630-693): passing rows → target, violating rows →
    quarantine (or dropped when ``quarantine_table`` is None).

    Constraints are the table's ``delta.constraints.*`` configuration
    (the writer-version-3 storage the protocol writer enforces on every
    write) plus a NOT-NULL check per non-nullable field of the
    committed schema (reference mack/__init__.py:658-667).

    SCALE: both branches are plain filters over the append source —
    predicate pushdown reaches the source scan when ``append_df`` is
    file-backed; the double evaluation of ``append_df`` matches the
    reference (no implicit cache).
    """
    if not isinstance(table, DeltaProtocolTable):
        raise TypeError("An existing delta table must be specified for delta_table.")
    if not isinstance(append_df, DataFrame):
        raise TypeError("You must provide a DataFrame that is to be appended.")
    if quarantine_table is not None and not isinstance(
        quarantine_table, DeltaProtocolTable
    ):
        raise TypeError(
            "An existing delta table must be specified for quarantine_table."
        )
    snap = table.snapshot()
    props = snap.metadata.get("configuration") or {}
    constraints = [
        v for k, v in props.items() if k.startswith("delta.constraints")
    ] + [f"{f.name} is not null" for f in snap.schema.fields if not f.nullable]
    if not constraints:
        raise TypeError("There are no constraints present in the target delta table")

    if quarantine_table is not None:
        quarantine_table.append(
            append_df.filter("not (" + " and ".join(constraints) + ")"),
            merge_schema=True,
        )
    table.append(append_df.filter(" and ".join(constraints)), merge_schema=True)
