"""Key discovery & surrogate keys.

Reference surface: ``is_composite_key_candidate`` (mack/__init__.py:415-456),
``find_composite_key_candidates`` (:558-586), ``with_md5_cols`` (:589-613).

SCALE: the reference enumerates column combinations with one
``distinct().count()`` Spark job per combination — O(2^n) jobs, each a
full shuffle (mack/__init__.py:581-583). This engine computes *all*
combinations of one size in a single aggregation job using
``approx_count_distinct`` (HLL sketches, single pass, no shuffle expand),
then exact-verifies only the sketch winners. On 100 TB that's
(n_sizes + small) scans instead of 2^n shuffles.
"""

from __future__ import annotations

from itertools import combinations
from typing import List, Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import _to_df


def is_composite_key_candidate(
    source: Union[DeltaProtocolTable, DataFrame], cols: List[str]
) -> bool:
    """Are these columns jointly unique in the table?

    Parity with reference mack/__init__.py:415-456 (window count > 1 +
    emptiness probe); expressed as the equivalent
    ``groupBy(cols).count().filter(>1).isEmpty()`` — a map-side-combinable
    aggregation instead of an analytic window, so it scales with no
    per-group row replication.
    """
    if not cols:
        raise ValueError("cols must be a non-empty list of column names")
    df = _to_df(source)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise TypeError(f"The base table has these columns {df.columns!r}, but these columns are required {cols!r}")
    return df.groupBy(*cols).count().filter(F.col("count") > 1).isEmpty()


def _distinct_count_exact(df: DataFrame, combos: List[tuple]) -> dict:
    """Exact distinct counts for many column combos in ONE aggregation job."""
    # count_distinct over a struct (not bare columns): SQL COUNT(DISTINCT
    # a, b) skips rows with any NULL, but the reference's
    # select(combo).distinct().count() counts NULL-bearing tuples — a
    # struct is itself never NULL, preserving that semantic.
    aggs = [
        F.count_distinct(F.struct(*[F.col(c) for c in combo])).alias(f"c{i}")
        for i, combo in enumerate(combos)
    ]
    row = df.agg(*aggs).collect()[0]
    return {combo: row[f"c{i}"] for i, combo in enumerate(combos)}


def _distinct_count_approx(df: DataFrame, combos: List[tuple], rsd: float) -> dict:
    """HLL-sketched distinct counts for many combos in one single-pass job.

    NULL handling parity: ``distinct().count()`` counts rows where all
    key columns are NULL, while approx/exact count_distinct skip them —
    the sketch is only a prefilter, winners are verified exactly, and the
    exact verification compares against the same count_distinct metric.
    """
    aggs = [
        F.approx_count_distinct(F.struct(*[F.col(c) for c in combo]), rsd).alias(f"c{i}")
        for i, combo in enumerate(combos)
    ]
    row = df.agg(*aggs).collect()[0]
    return {combo: row[f"c{i}"] for i, combo in enumerate(combos)}


def find_composite_key_candidates(
    source: Union[DeltaProtocolTable, DataFrame], exclude_cols: Optional[List[str]] = None
) -> List[str]:
    """Smallest column combination that uniquely identifies every row.

    Observable parity with reference mack/__init__.py:558-586:

    * baseline is ``df.distinct().count()`` — full-duplicate rows do not
      block discovery;
    * search order is ``itertools.combinations`` order (smallest size
      first, column order within), first hit wins;
    * a "key" that requires *all* columns raises ``ValueError``.

    Implementation differs for scale (module docstring): per size, one
    approx_count_distinct job prefilters, then one count_distinct job
    verifies the winners; candidates are tested in combination order.
    """
    df = _to_df(source)
    if exclude_cols:
        df = df.drop(*exclude_cols)
    total_cols = len(df.columns)
    deduped = df.distinct()
    # distinct() both defines the baseline and is reused for the count
    # jobs; for repeated scans Spark's shuffle reuse keeps this cheap.
    total = deduped.count()
    for n in range(1, total_cols + 1):
        combos = list(combinations(df.columns, n))
        if len(combos) <= 16:
            # Few combos: one exact aggregation job beats sketch+verify.
            exact = _distinct_count_exact(deduped, combos)
        elif n < total_cols:
            # rsd=0.05 (Spark's default): tighter sketches cost ~5x more
            # per update (HLL++ switches to high-precision registers) for
            # accuracy we don't need — the shortlist threshold below sits
            # 4 sigma under the target, so a true key is never filtered
            # out; false positives just ride into the exact-verify job.
            approx = _distinct_count_approx(deduped, combos, rsd=0.05)
            shortlisted = [c for c in combos if approx[c] >= total * 0.8]
            if not shortlisted:
                continue
            exact = _distinct_count_exact(
                deduped.select(*sorted({c for combo in shortlisted for c in combo})),
                shortlisted,
            )
        else:
            exact = {combos[0]: total}
        for combo in combos:
            if exact.get(combo) == total:
                if len(combo) == total_cols:
                    raise ValueError("No composite key candidates could be identified.")
                return list(combo)
    raise ValueError("No composite key candidates could be identified.")


def with_md5_cols(
    source: Union[DeltaProtocolTable, DataFrame],
    cols: List[str],
    output_col_name: Optional[str] = None,
) -> DataFrame:
    """Append surrogate-key column ``md5(concat_ws('||', *cols))``.

    Parity with reference mack/__init__.py:589-613 including the NULL
    quirk: ``concat_ws`` *drops* NULLs, so ``('a', NULL)`` hashes
    identically to ``('a',)`` (reference tests:802). Default output
    column name is ``md5_<c1>_<c2>``.
    """
    df = _to_df(source)
    if output_col_name is None:
        output_col_name = "_".join(["md5"] + cols)
    return df.withColumn(output_col_name, F.md5(F.concat_ws("||", *cols)))
