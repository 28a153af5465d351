"""Type-2 slowly-changing-dimension upserts.

Reference semantics: ``type_2_scd_upsert`` / ``type_2_scd_generic_upsert``
(reference mack/__init__.py:11-141). The reference stages a dual-row
source (the Delta "mergeKey" idiom, :107-114) and hands it to Delta
MERGE; this engine builds the same staged source as a
:class:`~mack_spark.tables.KeyedMerge` (:func:`scd2_keyed_merge`) and
commits it with ``DeltaProtocolTable.merge`` — one commit that
rewrites only the files holding an updated key.

Parity-critical semantics preserved (SURVEY §2c.1-2):

* change detection is null-UNSAFE SQL ``<>`` joined by OR — an attribute
  changing 'B'→NULL does NOT register as a change, but a NULL among
  other changed attrs still triggers via OR (reference tests:177-199);
* re-sending the current row is a no-op (idempotent upserts,
  reference tests:322-368);
* exact sorted column-set validation with the reference's error text
  (reference mack/__init__.py:84-96).

:func:`scd2_post_state` is the same upsert as one read-only lazy plan
(the oracle harness and the property tests compare the two).
"""

from __future__ import annotations

from functools import reduce
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import KeyedMerge


def scd2_keyed_merge(
    base: DataFrame,
    updates: DataFrame,
    primary_key: str,
    attr_col_names: List[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> KeyedMerge:
    """The SCD2 upsert as a native keyed MERGE — the reference's staged
    dual-row idiom verbatim (reference mack/__init__.py:99-140): each
    update row is staged twice, once with ``mergeKey = NULL`` when it
    closes a changed current row (NULL never matches, forcing the
    insert clause) and once with ``mergeKey = primary_key``.
    ``DeltaProtocolTable.merge`` executes it, rewriting only files
    containing matched keys; :func:`scd2_post_state` is the equivalent
    post-state plan.
    """
    changed_sql = " OR ".join(
        f"staged.`{a}` <> base.`{a}`" for a in attr_col_names
    )
    b_cur = base.where(F.col(is_current_col_name) == F.lit(True))
    closers = (
        updates.alias("u")
        .join(b_cur.alias("b"), F.col(f"u.{primary_key}") == F.col(f"b.{primary_key}"))
        .where(
            reduce(
                lambda acc, a: acc | (F.col(f"u.{a}") != F.col(f"b.{a}")),
                attr_col_names[1:],
                F.col(f"u.{attr_col_names[0]}") != F.col(f"b.{attr_col_names[0]}"),
            )
        )
        .select(F.lit(None).cast(base.schema[primary_key].dataType).alias("mergeKey"), "u.*")
    )
    staged = closers.unionByName(
        updates.select(F.col(primary_key).alias("mergeKey"), "*")
    )
    insert_values = {
        primary_key: f"staged.`{primary_key}`",
        **{a: f"staged.`{a}`" for a in attr_col_names},
        is_current_col_name: "true",
        effective_time_col_name: f"staged.`{effective_time_col_name}`",
        end_time_col_name: "null",
    }
    return KeyedMerge(
        source=staged,
        condition=f"base.`{primary_key}` = staged.mergeKey",
        target_alias="base",
        source_alias="staged",
        matched_update={
            is_current_col_name: "false",
            end_time_col_name: f"staged.`{effective_time_col_name}`",
        },
        matched_update_condition=(
            f"base.`{is_current_col_name}` = true AND ({changed_sql})"
        ),
        not_matched_insert=insert_values,
        # condition is exactly base.pk = staged.mergeKey — the file-
        # skipping contract DeltaProtocolTable.merge needs
        target_key_col=primary_key,
        source_key_col="mergeKey",
    )


def type_2_scd_upsert(
    table: DeltaProtocolTable,
    updates_df: DataFrame,
    primary_key: str,
    attr_col_names: List[str],
) -> None:
    """SCD2 upsert with conventional columns ``is_current`` /
    ``effective_time`` / ``end_time`` (reference mack/__init__.py:11-40)."""
    return type_2_scd_generic_upsert(
        table,
        updates_df,
        primary_key,
        attr_col_names,
        "is_current",
        "effective_time",
        "end_time",
    )


def scd2_post_state(
    base: DataFrame,
    updates: DataFrame,
    primary_key: str,
    attr_col_names: List[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> DataFrame:
    """The post-state of an SCD2 upsert as a single lazy plan.

    Exposed separately so the oracle harness can run it read-only
    against parquet inputs; ``type_2_scd_generic_upsert`` commits it.
    """
    out_cols = base.columns
    b = base.alias("base")
    # No forced broadcast of the updates side: mack-shaped upsert batches
    # are small and Catalyst broadcasts them from plan statistics anyway
    # (LocalRelation and parquet scans both carry size estimates), while a
    # bulk backfill batch above spark.sql.autoBroadcastJoinThreshold takes
    # the sort-merge path instead of OOMing the build side — AQE can still
    # convert to broadcast at runtime if the batch turns out small.
    u = updates.alias("updates")

    # Null-unsafe change predicate: Column `!=` has SQL `<>` three-valued
    # semantics (NULL if either side is NULL); OR-reduce matches the
    # reference's " OR ".join of `updates.a <> base.a` (reference :99-106).
    changed = reduce(
        lambda acc, a: acc | (F.col(f"updates.{a}") != F.col(f"base.{a}")),
        attr_col_names[1:],
        F.col(f"updates.{attr_col_names[0]}") != F.col(f"base.{attr_col_names[0]}"),
    )

    joined = b.join(u, F.col(f"base.{primary_key}") == F.col(f"updates.{primary_key}"), "left")
    is_close = (
        F.col(f"updates.{primary_key}").isNotNull()
        & (F.col(f"base.{is_current_col_name}") == F.lit(True))
        & changed
    )
    # Existing rows: closed versions get is_current=false and
    # end_time=update's effective_time; everything else passes through.
    existing = joined.select(
        *[
            F.when(is_close, F.lit(False)).otherwise(F.col(f"base.{c}")).alias(c)
            if c == is_current_col_name
            else F.when(is_close, F.col(f"updates.{effective_time_col_name}"))
            .otherwise(F.col(f"base.{c}"))
            .alias(c)
            if c == end_time_col_name
            else F.col(f"base.{c}").alias(c)
            for c in out_cols
        ]
    )

    def as_new_version(df: DataFrame) -> DataFrame:
        enriched = df.withColumn(is_current_col_name, F.lit(True)).withColumn(
            end_time_col_name, F.lit(None).cast(base.schema[end_time_col_name].dataType)
        )
        return enriched.select(*out_cols)

    # Inserts, clause by merge clause: updates whose current base row
    # changed (the mergeKey-NULL staged rows, reference :111) always
    # insert; brand-new keys (whenNotMatchedInsert on part_2) insert.
    changed_updates = (
        u.join(
            b.where(F.col(f"base.{is_current_col_name}") == F.lit(True)),
            F.col(f"base.{primary_key}") == F.col(f"updates.{primary_key}"),
        )
        .where(changed)
        .select("updates.*")
    )
    brand_new = updates.join(
        base.select(primary_key), on=primary_key, how="left_anti"
    )
    inserts = as_new_version(changed_updates.unionByName(brand_new))
    return existing.unionByName(inserts)


def type_2_scd_generic_upsert(
    table: DeltaProtocolTable,
    updates_df: DataFrame,
    primary_key: str,
    attr_col_names: List[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> None:
    """Generic SCD2 upsert (reference mack/__init__.py:43-141)."""
    base = table.to_df()
    base_col_names = base.columns
    required_base_col_names = (
        [primary_key]
        + attr_col_names
        + [is_current_col_name, effective_time_col_name, end_time_col_name]
    )
    if sorted(base_col_names) != sorted(required_base_col_names):
        raise TypeError(
            f"The base table has these columns {base_col_names!r}, but these columns are required {required_base_col_names!r}"
        )
    updates_col_names = updates_df.columns
    required_updates_col_names = [primary_key] + attr_col_names + [effective_time_col_name]
    if sorted(updates_col_names) != sorted(required_updates_col_names):
        raise TypeError(
            f"The updates DataFrame has these columns {updates_col_names!r}, but these columns are required {required_updates_col_names!r}"
        )

    table.merge(
        scd2_keyed_merge(
            base,
            updates_df,
            primary_key,
            attr_col_names,
            is_current_col_name,
            effective_time_col_name,
            end_time_col_name,
        )
    )
