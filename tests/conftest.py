import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.appName("mack_spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros (not stats-less INT96) so timestamp footer
        # stats exist — same setting as mack_spark.session.get_session
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session


def assert_df_equality(actual, expected, ignore_row_order=True, ignore_nullable=True):
    """Order-insensitive full-frame equality (chispa-style, the reference's
    assertion idiom — reference tests/test_public_interface.py:79)."""
    assert actual.columns == expected.columns, (
        f"columns differ: {actual.columns} vs {expected.columns}"
    )
    if not ignore_nullable:
        assert actual.schema == expected.schema
    a = [tuple(r) for r in actual.collect()]
    e = [tuple(r) for r in expected.collect()]
    if ignore_row_order:
        a, e = sorted(a, key=repr), sorted(e, key=repr)
    assert a == e, f"rows differ:\n actual={a}\n expected={e}"


def log_key_ranges(table, col):
    """Per-file ``(min, max)`` of ``col`` from the table's log stats."""
    snap = table.snapshot()
    return [
        (st["minValues"][col], st["maxValues"][col])
        for st in map(snap.file_stats, snap.files)
    ]
