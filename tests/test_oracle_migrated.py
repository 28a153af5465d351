"""Fast DuckDB-oracle gate for the queries that run mack's mutating
functions on a Delta-protocol table (rollups, foreachBatch sinks,
constraint_append, kill_duplicates) and for the two embedding near-dup
queries scored by the numpy kernel of ``embedding_near_dup_pairs``
(pinned ``bits=4`` and scale-aware ``bits=None``). The full 190-query
sweep is the slow tests/test_oracle.py; this subset runs by default."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MIGRATED = [
    "incremental_rollup",
    "delta_incremental_rollup",
    "streaming_scd2_foreach_batch",
    "streaming_continuous_rollup",
    "streaming_scd2_cdf",
    "delta_constraint_append",
    "delta_kill_duplicates",
    "dedup_embedding_cosine",
    "dedup_embedding_scaled",
]


def test_migrated_queries_match_duckdb_oracle():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TINY")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "oracle_check.py")]
        + ([sf_dir] if sf_dir else [])
        + MIGRATED,
        capture_output=True,
        text=True,
        timeout=900,
    )
    out = proc.stdout.replace("\r", "\n")
    assert proc.returncode == 0, f"oracle check failed:\n{out}\n{proc.stderr[-2000:]}"
    assert out.count("[PASS]") == len(MIGRATED), out
