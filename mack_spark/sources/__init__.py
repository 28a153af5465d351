"""Source readers for the engine's star-schema inputs.

Centralizes the one genuinely fiddly input: timestamp normalization on
``events.parquet``. Testdata generations have shipped ``ts`` as either
parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
unless ``spark.sql.legacy.parquet.nanosAsLong`` maps it to int64) or
plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4
reads as TIMESTAMP_NTZ). We normalize both to a session-UTC
``timestamp`` so every downstream operator — and DuckDB, which reads
the same file as a naive µs TIMESTAMP — observes identical instants:

* int64 nanos  → ``timestamp_micros(ts DIV 1000)`` (integer DIV, the
  same truncation DuckDB applies when narrowing ns to µs),
* TIMESTAMP_NTZ → cast to ``timestamp`` under the UTC session zone
  (a pure relabel: the wall-clock fields are unchanged),
* already TIMESTAMP → no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

NANO_TS_TABLES = {"events": ["ts"]}

# Spread key per table for the input-skew repartition below: a
# high-cardinality column so hash partitioning distributes evenly
# (opt guide §2.5 — 20-100x more distinct keys than partitions).
_SPREAD_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Files smaller than this never get the repartition treatment — the
# exchange would cost more than the single-task scan it replaces.
_PARALLELIZE_MIN_BYTES = 256 * 1024

# (path, mtime, size) -> row-group count; footer reads are cheap but
# load_table runs once per query per table, so don't repeat them.
_RG_CACHE: dict = {}


def _row_groups(path: str) -> int:
    try:
        st = os.stat(path)
    except OSError:
        return 1 << 30  # unreadable locally (e.g. non-local fs): skip
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _RG_CACHE.get(key)
    if hit is None:
        try:
            import pyarrow.parquet as pq

            hit = pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            hit = 1 << 30
        _RG_CACHE[key] = hit
    return hit


def _normalize_ts(df: DataFrame, cols) -> DataFrame:
    """Normalize each named column to µs-precision session-UTC timestamp,
    adapting to whatever physical type the parquet shipped with."""
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            # Integer DIV, not `/`: double division can round the µs up.
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one testdata table; timestamps normalized to µs precision.

    INPUT-SKEW FIX (opt guide §2.5 "one huge unsplittable file"), now
    OPT-IN via ``spread=True``: the testdata ships each table as a
    single parquet file with ONE row group, so every scan — and every
    map-side stage fused onto it — runs in one task while the rest of
    the cluster idles. When ``spread`` is requested, the file has fewer
    row groups than the session's parallelism, and it is big enough for
    an exchange to pay for itself, repartition immediately after the
    read on a high-cardinality key. At real scale inputs carry many
    row groups (>= parallelism), so the guard makes this a provable
    no-op there — no shuffle is ever added to a properly laid-out
    100 TB input. Hash partitioning on a real column (not round-robin)
    keeps the row->partition map deterministic under task retries
    (SPARK-38388) and skips the sortBeforeRepartition local sort.

    Opt-in, not default, by measurement (interleaved A/B over every
    affected query, OPTIMIZATION_r15.md): the exchange only pays when
    the work downstream of the scan is expensive PER ROW (per-pair
    vector math, wide correlation matrices). For the common
    scan→filter→aggregate shape, the map-side partial aggregation
    already collapses the data before any shuffle, and forcing a
    full-width exchange first made ~30 queries 1.5-2x slower while
    helping ~6.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name in NANO_TS_TABLES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _normalize_ts(spark.read.parquet(path), NANO_TS_TABLES[name])
    else:
        df = spark.read.parquet(path)
    key = _SPREAD_KEYS.get(name)
    par = spark.sparkContext.defaultParallelism
    try:
        fsize = os.path.getsize(path)
    except OSError:
        fsize = 0
    if (
        spread
        and key is not None
        and fsize >= _PARALLELIZE_MIN_BYTES
        and _row_groups(path) < par
    ):
        df = df.repartition(par, F.col(key))
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of :func:`load_table`: ``readStream`` over the same
    parquet with the same ns→µs timestamp normalization, so streaming
    operators see the exact instants the batch/oracle side sees."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name in NANO_TS_TABLES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # File streaming sources need a directory; the fixtures are single
    # files, so stream the parent dir with a glob pinned to this table.
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(df, NANO_TS_TABLES.get(name, []))


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV reader with a MANDATORY explicit schema.

    Schema inference reads the whole input once before the real scan —
    at 100 TB that doubles the job, so this engine refuses to infer:
    callers pass a ``StructType`` (or DDL string) and the reader does a
    single pass. ``PERMISSIVE`` mode plus ``_corrupt_record`` keeps bad
    rows observable instead of silently dropped.
    """
    if schema is None:
        raise TypeError("read_csv requires an explicit schema (no inference)")
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines reader with a mandatory explicit schema (same
    no-inference rule as :func:`read_csv`; JSON inference is an extra
    full pass). One JSON object per line — the layout Spark splits
    across executors; multiline JSON cannot be split and serializes the
    whole file through one task."""
    if schema is None:
        raise TypeError("read_jsonl requires an explicit schema (no inference)")
    return spark.read.schema(schema).json(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    """Hive-partitioned parquet sink.

    Partition columns become directories, so downstream filters on them
    prune whole directories before any I/O (partition pruning).
    ``maxRecordsPerFile`` bounds file size without an extra
    repartition; pair with a low-cardinality partition key — a
    high-cardinality key at 100 TB means millions of tiny files and a
    listing-bound metastore.
    """
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-shuffles rows into
    ``num_buckets`` hash buckets on ``bucket_by`` at WRITE time.

    Two tables bucketed the same way join with ZERO exchange — the
    bucketing metadata satisfies the join's distribution requirement,
    so a 100 TB fact ⋈ fact join that would otherwise shuffle both
    sides runs map-side (see tests/test_sources_sinks.py for the
    no-Exchange plan assertion). Size ``num_buckets`` so one bucket of
    the BIGGER table fits an executor (~128-512 MB of parquet).
    """
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table_name)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader (schema travels with the file, so no inference pass
    to forbid). ORC and parquet are both fine at scale; this exists so
    ORC-resident corpora don't need a pre-conversion step."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink with the same footprint controls as the parquet path."""
    df.write.mode(mode).orc(path)


STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_star_schema(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so callers can use
    the raw ``spark.sql`` front-end — same names the DuckDB oracle
    pre-registers, so one SQL string can run on both engines."""
    for name in STAR_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "jsonl",
    corrupt_col: str = "_corrupt_record",
    **reader_kwargs,
):
    """Validated ingest: read with an explicit schema in PERMISSIVE
    mode and split into ``(good, quarantine)`` DataFrames — the ingest
    twin of ``constraint_append``'s quarantine contract. ``good`` drops
    the corrupt column; ``quarantine`` keeps only the raw offending
    line so malformed input is auditable instead of silently nulled.

    SCALE: one scan, two lazy filters on it — no extra pass. Spark
    requires the corrupt column to be declared in the schema, so this
    helper appends it; callers pass their DATA schema only. NOTE per
    Spark semantics, a malformed CSV row still materializes the
    parseable prefix of its fields in ``good``-side columns; the
    quarantine filter is the authoritative malformed test (corrupt
    column non-NULL).
    """
    from pyspark.sql.types import StringType, StructType

    if schema is None:
        raise TypeError("read_with_quarantine requires an explicit schema")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    declared = StructType(schema.fields).add(corrupt_col, StringType())
    if fmt == "jsonl":
        reader = (
            spark.read.schema(declared)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
        raw = reader.json(path, **reader_kwargs)
    elif fmt == "csv":
        reader = (
            spark.read.schema(declared)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .option("header", str(reader_kwargs.pop("header", True)).lower())
            .option("delimiter", reader_kwargs.pop("delimiter", ","))
        )
        raw = reader.csv(path, **reader_kwargs)
    else:
        raise ValueError(f"unsupported fmt {fmt!r}: use 'jsonl' or 'csv'")
    # Spark refuses queries whose referenced columns are ONLY the
    # internal corrupt-record column (UNSUPPORTED_FEATURE.QUERY_ONLY_
    # CORRUPT_RECORD_COLUMN); the documented pattern is to cache the
    # raw read and filter the cached relation — one scan feeds both
    # branches, which is what we wanted anyway.
    raw = raw.cache()
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, quarantine
