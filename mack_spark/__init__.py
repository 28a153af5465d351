"""mack_spark — a PySpark-native table-operations and data-pipeline engine.

Re-expresses the full capability surface of the reference library
(MrPowers/mack, ``mack/__init__.py``) as idiomatic PySpark:
stateless functions over one table handle, zero row-at-a-time UDFs in
the core, every heavy operation delegated to Catalyst (predicate
pushdown, column pruning, AQE, broadcast joins).

The reference depends on Delta Lake for its transactional substrate.
This engine implements the Delta log protocol itself
(:class:`DeltaProtocolTable`, :mod:`mack_spark.sources.delta_log`), and
every row-level mutation of mack's functions is a call on it: ``merge``
of a :class:`~mack_spark.tables.KeyedMerge` (file-pruned rewrite),
``append`` or ``overwrite``. It is the only table type: the engine's
index tables (IVF, LSH, near-dup) are protocol tables too, and the
copy, rename, version and size helpers take one. Time travel, VACUUM,
SHALLOW CLONE and OPTIMIZE are its methods.

Beyond the reference surface, :mod:`mack_spark.operators` adds the
LLM-data-pipeline layer (exact/near dedup, similarity search, text
analysis, multimodal plumbing) and :mod:`mack_spark.streaming` the
Structured Streaming variants; all designed for 100 TB scale (see each
docstring's SCALE note).
"""

from mack_spark.fmt import humanize_bytes, humanize_bytes_binary
from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import (
    ConcurrentModificationError,
    copy_table,
    rename_table,
    rename_catalog_table,
    latest_version,
    file_sizes,
    show_file_sizes,
    delta_file_sizes,
    show_delta_file_sizes,
    rename_delta_table,
)
from mack_spark.keys import (
    is_composite_key_candidate,
    find_composite_key_candidates,
    with_md5_cols,
)
from mack_spark.scd import type_2_scd_upsert, type_2_scd_generic_upsert
from mack_spark.sql_dml import DeltaSqlDml, execute_dml
from mack_spark.sql_ddl import DeltaSqlSession
from mack_spark.dedup import (
    kill_duplicates,
    drop_duplicates_pkey,
    drop_duplicates,
    append_without_duplicates,
)
from mack_spark.appends import (
    validate_append,
    constraint_append,
)
from mack_spark.rollup import (
    create_rollup,
    refresh_rollup_incremental,
    rollup_as_view,
)

__version__ = "0.1.0"

__all__ = [
    "ConcurrentModificationError",
    "DeltaProtocolTable",
    "type_2_scd_upsert",
    "type_2_scd_generic_upsert",
    "kill_duplicates",
    "drop_duplicates_pkey",
    "drop_duplicates",
    "append_without_duplicates",
    "validate_append",
    "constraint_append",
    "create_rollup",
    "refresh_rollup_incremental",
    "rollup_as_view",
    "copy_table",
    "rename_table",
    "rename_catalog_table",
    "latest_version",
    "file_sizes",
    "show_file_sizes",
    "delta_file_sizes",
    "show_delta_file_sizes",
    "rename_delta_table",
    "is_composite_key_candidate",
    "find_composite_key_candidates",
    "with_md5_cols",
    "humanize_bytes",
    "humanize_bytes_binary",
    "DeltaSqlDml",
    "DeltaSqlSession",
    "execute_dml",
]
