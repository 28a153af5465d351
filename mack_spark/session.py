"""SparkSession factory tuned for this engine.

The reference test suite builds a Delta-enabled local session with
``spark.sql.shuffle.partitions=2`` (reference tests/test_public_interface.py:17-27).
We generalize: AQE on (runtime shuffle coalescing + skew-join splitting),
Arrow on (all extension operators move batches through pandas UDFs),
shuffle partitions sized to the local core count. On a real cluster these
settings scale with executors; nothing here is local-mode-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "mack_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession configured for this engine.

    SCALE: on a 1000-executor cluster the same config applies — AQE
    re-plans shuffle partition counts at runtime so the static
    ``shuffle.partitions`` value is only an upper bound for the first
    stage; skew-join handling splits hot keys automatically.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    # Python workers (mapInPandas/applyInPandas stages) must be able to
    # import this package even when the driver script runs from another
    # directory: driver-side sys.path edits don't reach forked workers,
    # so export the package root on PYTHONPATH before the JVM starts.
    # On a real cluster the equivalent is shipping a wheel via
    # --py-files; executorEnv covers separate-host executors.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    # Optimized writes (opt guide §6 file sizing): protocol table
    # writes derive their file count from estimated bytes instead of
    # inheriting the incoming partitioning — see
    # mack_spark.layout.optimize_write_partitions. Session-level
    # default like delta-spark's optimizeWrite; per-table
    # delta.autoOptimize.optimizeWrite overrides.
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.mack.delta.optimizeWrite.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros, not the deprecated INT96: INT96 carries no
        # parquet min/max statistics, which silently defeats footer-
        # stats file pruning on timestamp keys (merge/delete/update
        # skipping in sources/delta_log.py). Delta and
        # Iceberg write INT64 for the same reason.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    return builder.getOrCreate()
