"""Structured-Streaming source for open-protocol Delta tables.

``spark.readStream.format("delta_protocol").option("path", ...)`` over
a :class:`~mack_spark.sources.delta_log.DeltaProtocolTable`, built on
PySpark 4's Python DataSource API. Semantics follow Delta's streaming
source (the reference's substrate exposes the same contract through
delta-spark):

* an OFFSET is a log version; each microbatch is exactly the ``add``
  actions with ``dataChange: true`` committed in ``(start, end]`` —
  so OPTIMIZE/compaction commits (``dataChange: false``,
  delta_log.py ``optimize``) are invisible to the stream by
  construction, no duplicates;
* ``startingVersion`` option: ``0`` (default) streams the existing
  table as the first batch then increments; ``"latest"`` streams only
  commits after stream start; any integer starts at that version;
* ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (Delta's admission
  control): each microbatch admits at most N data files / ~N bytes
  (always at least one file, so progress is guaranteed). The offset
  gains a file index within the version (``{"version": v, "index":
  i}``), so a 100 TB initial snapshot drains as a sequence of bounded
  microbatches instead of one giant batch. Without these options the
  offsets stay version-only — byte-compatible with checkpoints written
  before rate limiting existed. One caveat imposed by the engine: for
  Python DataSources (no ``SupportsTriggerAvailableNow`` hook in the
  API — verified against Spark 4.1.2: ``javap
  PythonMicroBatchStream`` implements only ``MicroBatchStream`` +
  ``AcceptsLatestSeenOffset``) pyspark FALLS BACK to single-batch
  execution under
  ``Trigger.AvailableNow`` — it logs "does not support
  Trigger.AvailableNow. Falling back to single batch execution" — so
  a rate-limited availableNow RUN processes one bounded chunk and
  terminates. :func:`mack_spark.streaming.drain_available_now` loops
  such runs against one checkpoint to deliver the availableNow
  contract (drain everything available, in bounded batches); a
  ``processingTime`` trigger drains continuously; dropping the limit
  gives a one-shot full drain. Restarts are exact: the engine forwards
  its latest logged offset (AcceptsLatestSeenOffset → a
  ``partitions(X, X)`` call) before asking for a new offset, which
  re-seeds the cursor — pinned in tests/test_advice_fixes_r11.py;
* a commit that REMOVES data (DELETE/UPDATE/MERGE rewrite) is not
  streamable — the source raises Delta's "data update detected" error
  unless ``skipChangeCommits=true`` (ignore the whole commit) or
  ``ignoreChanges=true`` (emit its adds anyway — documented to produce
  re-processed rows, same as Delta);
* ``readChangeFeed=true`` (Delta's streaming/batch CDF read) streams
  the CHANGE FEED instead of the table: each microbatch emits the
  commits' change rows (table columns + ``_change_type`` /
  ``_commit_version`` / ``_commit_timestamp``) — cdc files where the
  commit wrote them, derived inserts/deletes where exact, and a loud
  error for rewriting commits that predate CDF enablement. Rewrite
  commits become ordinary feed batches here, so downstream jobs can
  FOLLOW updates and deletes incrementally instead of opting to skip
  them. Rate limiting composes (the admitted unit is a change file).
  The batch reader takes ``startingVersion``/``endingVersion``;
* exactly-once across restarts comes from the engine checkpointing the
  version offsets; ``partitions()`` re-derives the same files for the
  same (start, end] replay.

SCALE: offsets and planning are driver-side log metadata (KBs);
``read()`` executes per FILE on the executors (one InputPartition per
add action), so a microbatch of N files fans out N-wide — the same
shape as Delta's own file-based streaming source.
"""

from __future__ import annotations

import datetime
import json
import os
from typing import Iterator, List, Optional, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "delta_protocol"


class DeltaStreamChangeError(RuntimeError):
    """A commit in the offset range rewrites or removes existing data;
    append-only streaming cannot represent it (Delta raises the same
    way — pass skipChangeCommits/ignoreChanges to opt out)."""


def _parse_bytes(v) -> int:
    """'10g' / '512m' / '64k' / plain int → bytes (Delta's
    maxBytesPerTrigger accepts byte-size strings)."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _decode_partition_value(raw, dtype_simple: str):
    """A ``partitionValues`` string as the Python value Spark should
    ingest for the declared type (spec: stored as strings)."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if dtype_simple in ("int", "bigint", "smallint", "tinyint"):
        return int(raw)
    if dtype_simple in ("double", "float"):
        return float(raw)
    if dtype_simple.startswith("decimal"):
        import decimal

        return decimal.Decimal(raw)
    if dtype_simple == "boolean":
        return raw == "true"
    if dtype_simple == "date":
        return datetime.date.fromisoformat(raw)
    if dtype_simple == "timestamp_epoch_ms":
        # internal overlay encoding (streaming CDF _commit_timestamp):
        # epoch millis → tz-aware UTC instant, so the value is the same
        # exact instant in any session time zone — mirroring batch
        # table_changes' F.timestamp_millis
        return datetime.datetime.fromtimestamp(
            int(raw) / 1000.0, tz=datetime.timezone.utc
        )
    if dtype_simple in ("timestamp", "timestamp_ntz"):
        return datetime.datetime.fromisoformat(raw)
    return raw


class _AddFilePartition(InputPartition):
    """One committed data file: everything an executor needs to turn it
    into rows, picklable."""

    def __init__(self, abs_path: str, field_names: List[str],
                 part_values: dict, part_types: dict, schema_json: str,
                 col_resolve: Optional[dict] = None):
        self.abs_path = abs_path
        self.field_names = field_names  # full output order
        self.part_values = part_values  # col -> raw string (or None)
        self.part_types = part_types    # col -> simpleString type
        self.schema_json = schema_json  # full StructType json
        # column-mapped tables: logical -> ("name", physicalName) or
        # ("id", fieldId); None on unmapped tables (file columns are
        # the logical names)
        self.col_resolve = col_resolve


# CDF metadata columns appended to the table schema when
# readChangeFeed=true (Delta's names); _change_type is physical in cdc
# files and a per-partition constant for derived insert/delete files
CDF_META_FIELDS = [
    ("_change_type", "string"),
    ("_commit_version", "bigint"),
    ("_commit_timestamp", "timestamp"),
]


def _cdf_schema(table_schema: StructType) -> StructType:
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        TimestampType,
    )

    return StructType(
        list(table_schema.fields)
        + [
            StructField("_change_type", StringType(), True),
            StructField("_commit_version", LongType(), True),
            StructField("_commit_timestamp", TimestampType(), True),
        ]
    )


class DeltaProtocolStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("delta_protocol requires .option('path', ...)")
        self._path = os.path.abspath(self._path)
        self._read_cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self._skip_change = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self._starting = str(options.get("startingversion", "0"))
        st = options.get("startingtimestamp")
        if st is not None:
            if "startingversion" in options:
                raise ValueError(
                    "give startingVersion OR startingTimestamp, not both"
                )
            # Delta's startingTimestamp: stream from the FIRST commit
            # at or after the timestamp (a future timestamp streams
            # only new commits); resolved once at stream start from
            # driver-side log metadata
            from mack_spark.sources.delta_log import DeltaProtocolTable

            t = _table(self._path)
            self._starting = str(
                t.first_version_at_or_after(
                    DeltaProtocolTable._ts_ms(
                        int(st) if str(st).lstrip("-").isdigit() else st
                    )
                )
            )
        mf = options.get("maxfilespertrigger")
        self._max_files = int(mf) if mf is not None else None
        mb = options.get("maxbytespertrigger")
        self._max_bytes = _parse_bytes(mb) if mb is not None else None
        self._limited = (
            self._max_files is not None or self._max_bytes is not None
        )
        # driver-side admission cursor: the last offset this reader
        # returned/planned. Lives for the stream's run; after a process
        # restart it re-seeds from initialOffset or the first
        # partitions()/commit() call (whichever the engine issues).
        self._cursor: Optional[dict] = None
        self._table = _table(self._path)
        if self._read_cdf:
            snap = self._table.snapshot()
            if not self._table._cdf_enabled(snap):
                raise ValueError(
                    f"readChangeFeed requires delta.enableChangeDataFeed"
                    f"=true on {self._path}"
                )

    # -- offsets --------------------------------------------------------

    @staticmethod
    def _off_key(off: dict):
        """Total order over offsets; a missing index means the whole
        version is consumed (version-only offsets sort after any
        indexed offset of the same version)."""
        i = off.get("index")
        return (int(off["version"]), float("inf") if i is None else int(i))

    def _advance_cursor(self, off: dict) -> None:
        if self._cursor is None or self._off_key(off) > self._off_key(
            self._cursor
        ):
            self._cursor = dict(off)

    def initialOffset(self) -> dict:
        if self._starting == "latest":
            off = {"version": self._table.snapshot().version}
        else:
            # first batch covers versions >= startingVersion, i.e.
            # (startingVersion - 1, head]
            off = {"version": int(self._starting) - 1}
        self._advance_cursor(off)
        return off

    def latestOffset(self) -> dict:
        head = self._table.snapshot().version
        if not self._limited:
            return {"version": head}
        base = self._cursor
        if base is None:
            # A fresh stream: the engine calls latestOffset BEFORE
            # initialOffset on first start, while on ANY restart the
            # engine seeds the cursor before asking for a new offset —
            # PythonMicroBatchStream implements AcceptsLatestSeenOffset
            # and forwards the latest offset-log entry as a
            # partitions(X, X) call during initialization, even when
            # the last batch was fully committed (observed and pinned
            # in tests/test_advice_fixes_r11.py). So an unseeded cursor
            # here means a genuinely fresh stream — no offset has ever
            # been logged — and walking from startingVersion cannot
            # regress below any engine checkpoint, while bounding the
            # very first microbatch over an existing table (the 100 TB
            # initial-snapshot case). If a future engine ever dropped
            # the latest-seen handshake, the pinned call-order test
            # fails loudly rather than this path silently replaying.
            if self._starting == "latest":
                base = {"version": head}
            else:
                base = {"version": int(self._starting) - 1}
        v = int(base["version"])
        i = base.get("index")
        if i is None:
            v, i = v + 1, 0
        files = bytes_ = 0
        end_v, end_i = v - 1, None  # nothing admitted yet
        while v <= head:
            adds = self._stream_units(v)
            while i < len(adds):
                a = adds[i]
                nf, nb = files + 1, bytes_ + int(a.get("size", 0))
                if files > 0 and (
                    (self._max_files is not None and nf > self._max_files)
                    or (self._max_bytes is not None and nb > self._max_bytes)
                ):
                    off = {"version": v, "index": i}
                    self._advance_cursor(off)
                    return off
                files, bytes_ = nf, nb
                i += 1
            end_v, end_i = v, len(adds)
            if (
                self._max_files is not None and files >= self._max_files
            ) or (
                self._max_bytes is not None and bytes_ >= self._max_bytes
            ):
                break
            v, i = v + 1, 0
        if end_i is None:
            off = dict(base)
        else:
            off = {"version": end_v, "index": end_i}
        self._advance_cursor(off)
        return off

    def commit(self, end: dict) -> None:
        # the engine's checkpoint is the source of truth; track it so
        # the admission cursor survives whatever call order the engine
        # uses around restarts
        self._advance_cursor(end)

    # -- planning (driver) ---------------------------------------------

    def _version_adds(self, v: int) -> List[dict]:
        """The dataChange add actions a streaming batch emits for
        commit ``v``, after change-commit handling: a commit that
        removes data yields [] under skipChangeCommits, its adds under
        ignoreChanges, and raises otherwise. Used by BOTH the admission
        walk and partition planning, so file indexes always agree."""
        vf = os.path.join(self._path, "_delta_log", "%020d.json" % v)
        if not os.path.exists(vf):
            raise DeltaStreamChangeError(
                f"log version {v} of {self._path} is gone (checkpoint-"
                "compacted or vacuumed); restart the stream with "
                ".option('startingVersion', 'latest')"
            )
        adds, has_change = [], False
        with open(vf) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    has_change = True
                if "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    adds.append(action["add"])
        if has_change:
            if self._skip_change:
                return []  # drop the whole commit, like Delta
            if not self._ignore_changes:
                raise DeltaStreamChangeError(
                    f"commit {v} of {self._path} updates or deletes "
                    "existing rows; streaming is append-only. Use "
                    ".option('skipChangeCommits', 'true') to drop such "
                    "commits or .option('ignoreChanges', 'true') to "
                    "emit their rewritten files (may re-process rows), "
                    "or stream the change feed itself with "
                    ".option('readChangeFeed', 'true')."
                )
        return adds

    def _stream_units(self, v: int) -> List[dict]:
        """The per-file units commit ``v`` contributes to the stream —
        plain adds in table mode, change-feed files in CDF mode. Offset
        indexes and admission counting are positions in THIS list, so
        both modes rate-limit and replay identically."""
        if not self._read_cdf:
            return [
                {"add": a, "size": int(a.get("size", 0)), "overlay": {}}
                for a in self._version_adds(v)
            ]
        return _cdf_units(self._table, self._path, v)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        lo_i = start.get("index")  # None: version lo fully consumed
        hi_i = end.get("index")    # None: version hi fully included
        # seed from BOTH offsets: the engine's restart handshake
        # (PythonMicroBatchStream implements AcceptsLatestSeenOffset;
        # setLatestSeenOffset arrives here as partitions(X, X) before
        # any latestOffset call — pinned in
        # tests/test_advice_fixes_r11.py) delivers the checkpointed
        # offset as START, so the admission cursor can never sit below
        # an offset the engine has already logged
        self._advance_cursor(start)
        self._advance_cursor(end)
        snap = self._table.snapshot(version_as_of=hi)
        first_v = lo if lo_i is not None else lo + 1
        out: List[InputPartition] = []
        for v in range(first_v, hi + 1):
            units = self._stream_units(v)
            a_lo = lo_i if (v == lo and lo_i is not None) else 0
            a_hi = hi_i if (v == hi and hi_i is not None) else len(units)
            out.extend(
                _units_to_partitions(
                    self._path, snap, units[a_lo:a_hi], self._read_cdf
                )
            )
        return out

    # -- execution (executors) -----------------------------------------

    def read(self, partition: InputPartition) -> Iterator:
        return _read_add_file(partition)


def _read_add_file(p: _AddFilePartition) -> Iterator:
    """Executor-side: the file becomes Arrow RecordBatches cast to the
    schema Spark expects — zero per-row Python. The tuple path survives
    as a fallback for exotic types Arrow can't cast. Shared by the
    streaming and batch readers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(p.abs_path)
    consts = {
        c: _decode_partition_value(v, p.part_types[c])
        for c, v in p.part_values.items()
        if c in p.part_types
    }

    # column-mapped tables: map each LOGICAL output column to the
    # file's physical column — by physicalName (name mode) or by
    # parquet field id (id mode); unresolved columns NULL-fill like
    # pre-evolution files
    def _file_col(name: str) -> Optional[str]:
        if p.col_resolve is None:
            return name if name in set(table.column_names) else None
        r = p.col_resolve.get(name)
        if r is None:
            # CDF meta columns etc. resolve by their literal name
            return name if name in set(table.column_names) else None
        mode, key = r
        if mode == "name":
            return key if key in set(table.column_names) else None
        for f in table.schema:
            md = f.metadata or {}
            fid = md.get(b"PARQUET:field_id")
            if fid is not None and int(fid) == int(key):
                return f.name
        return None

    try:
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(StructType.fromJson(
            json.loads(p.schema_json)
        ))
        cols = []
        for name in p.field_names:
            t = target.field(name).type
            fc = _file_col(name)
            if name in consts:
                cols.append(
                    pa.array([consts[name]] * table.num_rows, type=t)
                )
            elif fc is None:
                # file committed before a mergeSchema evolution: the
                # column does not exist physically — NULL-fill, same as
                # to_df()'s explicit-schema parquet read
                cols.append(pa.nulls(table.num_rows, type=t))
            else:
                cols.append(table.column(fc).cast(t).combine_chunks())
        yield from pa.Table.from_arrays(cols, schema=target).to_batches()
        return
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, KeyError):
        pass  # fall back to row tuples below
    data = {
        name: table.column(fc).to_pylist()
        for name in p.field_names
        for fc in [_file_col(name)]
        if fc is not None
    }
    for i in range(table.num_rows):
        yield tuple(
            consts[name] if name in consts
            else (data[name][i] if name in data else None)
            for name in p.field_names
        )


def _table(path: str):
    """A driver-side log walker. DeltaProtocolTable's replay is pure
    Python + pyarrow; the SparkSession member is only used by its
    read/write methods, which this source never calls."""
    from mack_spark.sources.delta_log import DeltaProtocolTable

    return DeltaProtocolTable(None, path)


def _cdf_units(table, path: str, v: int) -> List[dict]:
    """Per-file change-feed units of commit ``v`` (Delta
    readChangeFeed semantics, mirroring
    DeltaProtocolTable.table_changes): cdc files when present,
    otherwise adds derive as inserts and removes as deletes — exact
    for append/overwrite/restore/insert-only merge; a rewriting commit
    without cdc predates CDF enablement and raises. Each unit carries
    an ``overlay`` of constant CDF meta columns (plus ``_change_type``
    for derived files; cdc files hold it physically)."""
    from mack_spark.sources.delta_log import _CDF_EXACT_REWRITE_OPS

    actions = table._commit_actions(v)
    ci = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
    ts_ms = int(ci.get("inCommitTimestamp") or ci.get("timestamp", 0))
    # carry the commit timestamp as epoch millis, decoded to a tz-aware
    # UTC instant executor-side — an isoformat NAIVE datetime would be
    # re-interpreted in the session time zone on the tuple fallback
    # path, shifting stream CDF timestamps relative to batch
    # table_changes (which uses F.timestamp_millis, an exact instant)
    meta = {"_commit_version": str(v), "_commit_timestamp": str(ts_ms)}
    cdc = [a["cdc"] for a in actions if "cdc" in a]
    if cdc:
        return [
            {"add": c, "size": int(c.get("size", 0)), "overlay": dict(meta)}
            for c in cdc
        ]
    adds = [
        a["add"]
        for a in actions
        if "add" in a and a["add"].get("dataChange", True)
    ]
    removes = [
        a["remove"]
        for a in actions
        if "remove" in a and a["remove"].get("dataChange", True)
    ]
    op = ci.get("operation", "")
    if removes and adds and op not in _CDF_EXACT_REWRITE_OPS:
        # same inverted allowlist as batch table_changes: whole-file
        # replacement ops (overwrite/restore) derive exactly; anything
        # else — rewrites predating CDF enablement or unknown foreign
        # operations — may be a partial-file rewrite, so raise rather
        # than fabricate wrong change rows
        raise DeltaStreamChangeError(
            f"commit {v} of {path} ({op or 'unknown operation'}) adds"
            " and removes data files without recording change data —"
            " its row-level changes cannot be derived exactly; start"
            " the stream at a later version"
        )
    units = [
        {"add": a, "size": int(a.get("size", 0)),
         "overlay": dict(meta, _change_type="insert")}
        for a in adds
    ]
    if removes:
        prev = table.snapshot(version_as_of=v - 1)
        for r in removes:
            a = prev.files.get(r["path"])
            if a is None:
                raise DeltaStreamChangeError(
                    f"commit {v} removes {r['path']}, absent from version"
                    f" {v - 1} — cannot derive its deleted rows"
                )
            units.append(
                {"add": a, "size": int(a.get("size", 0)),
                 "overlay": dict(meta, _change_type="delete")}
            )
    return units


def _units_to_partitions(
    path: str, snap, units: List[dict], cdf: bool
) -> List[_AddFilePartition]:
    """Units → executor partitions. In CDF mode the output schema is
    the table schema + CDF meta columns; overlay constants ride the
    same partition-value mechanism as directory-derived values (cdc
    files carry ``_change_type`` physically, so it is absent from
    their overlay and reads from the file)."""
    pcols = snap.partition_columns
    schema = _cdf_schema(snap.schema) if cdf else snap.schema
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    names = [f.name for f in schema.fields]
    schema_json = schema.json()
    # column-mapped tables: executors resolve file columns by
    # physicalName (name mode) / parquet field id (id mode), and
    # partitionValues arrive PHYSICAL-keyed — translate back to logical
    col_resolve = None
    phys_to_logical = {}
    if snap.column_mapping_mode != "none":
        mode = snap.column_mapping_mode
        col_resolve = {}
        for f in snap.schema.fields:
            md = f.metadata or {}
            phys = md.get("delta.columnMapping.physicalName", f.name)
            fid = md.get("delta.columnMapping.id")
            if mode == "id" and fid is not None:
                col_resolve[f.name] = ("id", int(fid))
            else:
                col_resolve[f.name] = ("name", phys)
            phys_to_logical[phys] = f.name
    out = []
    for u in units:
        a = u["add"]
        if a.get("deletionVector"):
            raise ValueError(
                "the delta_protocol format reader does not support"
                " files with deletion vectors; use"
                " DeltaProtocolTable.to_df()"
            )
        consts = {
            phys_to_logical.get(k, k): v
            for k, v in (a.get("partitionValues") or {}).items()
        }
        consts.update(u["overlay"])
        const_types = {c: types[c] for c in pcols}
        const_types.update(
            {c: types[c] for c in u["overlay"] if c in types}
        )
        if "_commit_timestamp" in u["overlay"]:
            # overlay timestamps are epoch millis (exact instants),
            # not the spec's isoformat partition-value encoding
            const_types["_commit_timestamp"] = "timestamp_epoch_ms"
        out.append(
            _AddFilePartition(
                os.path.join(path, a["path"]),
                names,
                consts,
                const_types,
                schema_json,
                col_resolve=col_resolve,
            )
        )
    return out


class DeltaProtocolBatchReader(DataSourceReader):
    """``spark.read.format('delta_protocol')``: one InputPartition per
    live file of the snapshot (``versionAsOf`` time travel supported),
    planned from driver-side log metadata, read executor-side through
    the same Arrow path as the stream.

    Note: :meth:`DeltaProtocolTable.to_df` remains the primary batch
    path — it hands Spark's native parquet reader the live files, so
    predicate pushdown and column pruning reach the scan. This reader
    exists for format-string interop (catalogs, tooling, languages
    that only speak ``spark.read.format``)."""

    def __init__(self, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("delta_protocol requires .option('path', ...)")
        self._path = os.path.abspath(self._path)
        v = options.get("versionasof")
        self._version = int(v) if v is not None else None
        self._read_cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self._starting = int(options.get("startingversion", 0))
        ev = options.get("endingversion")
        self._ending = int(ev) if ev is not None else None

    def partitions(self) -> Sequence[InputPartition]:
        table = _table(self._path)
        if self._read_cdf:
            # batch CDF read (Delta's readChangeFeed + startingVersion/
            # endingVersion): every change-feed file of the commits in
            # range, planned from driver-side log metadata
            end_snap = table.snapshot(version_as_of=self._ending)
            if not table._cdf_enabled(end_snap):
                raise ValueError(
                    f"readChangeFeed requires delta.enableChangeDataFeed"
                    f"=true on {self._path}"
                )
            out: List[InputPartition] = []
            for v in table._log_versions():
                if v < self._starting or v > end_snap.version:
                    continue
                out.extend(
                    _units_to_partitions(
                        self._path, end_snap,
                        _cdf_units(table, self._path, v), True,
                    )
                )
            return out
        snap = table.snapshot(version_as_of=self._version)
        units = [
            {"add": a, "size": int(a.get("size", 0)), "overlay": {}}
            for a in snap.files.values()
        ]
        return _units_to_partitions(self._path, snap, units, False)

    def read(self, partition: InputPartition) -> Iterator:
        return _read_add_file(partition)


class _SinkFileMessage(WriterCommitMessage):
    """Staged parquet files written by ONE executor task (picklable;
    shipped back to the driver for the log commit). ``entries`` is a
    list of dicts — ``{"rel_path", "size", "stats",
    "partitionValues"}`` — one per file (a task writes one file per
    partition-value combination it saw; unpartitioned tasks write at
    most one)."""

    def __init__(self, entries: Optional[list] = None):
        self.entries = entries or []


class DeltaProtocolStreamWriter(DataSourceStreamArrowWriter):
    """Structured-Streaming SINK for open-protocol Delta tables —
    ``df.writeStream.format("delta_protocol").option("path", p)`` with
    Delta's exactly-once contract:

    * ``write`` (executor, Arrow batches): each task writes its rows
      as ONE parquet file directly under the table root (uuid-named —
      unreferenced files are invisible to readers and vacuum-able, the
      same not-yet-committed model delta-spark uses) and returns the
      file name + footer stats.
    * ``commit`` (driver, per microbatch): ONE log version holding the
      adds plus a SetTransaction ``{appId, version: batchId}``. On
      restart Spark re-runs the last batch; the txn watermark makes
      the replay a NO-OP (staged duplicates are deleted, nothing
      recommitted) — Delta's idempotent streaming-sink rule. The appId
      comes from ``.option("txnAppId", ...)`` or defaults to the
      query's checkpointLocation, which is unique per query by
      construction.
    * a lost commit race against another writer retries like any blind
      append (re-snapshot, re-check the watermark, next version).

    Append output mode only. CHECK constraints and generated columns
    are enforced at commit time with one bounded scan over the staged
    files. PARTITIONED targets work: each task writes one file per
    partition-value combination it saw — files exclude the partition
    columns and the adds record ``partitionValues`` (the log is
    authoritative; the reader attaches them as typed literals, no
    directory layout required). Row-tracked targets work — the commit
    assigns baseRowIds.

    COLUMN-MAPPED targets work executor-side: the physical mapping is
    captured at construction (it cannot change mid-stream — the schema
    check re-verifies per commit), each task renames logical→physical
    and stamps ``parquet.field.id`` before writing, and partitionValues
    come out physical-keyed, exactly like the batch writer's files.

    IDENTITY targets work via a commit-time rewrite: identity values
    must physically exist in the data files (spec §Identity Columns),
    and an executor task cannot reserve a gap-free range without
    coordination, so ``commit`` reads the staged batch back (executor-
    side scan), routes it through :meth:`DeltaProtocolTable.append`
    with ``txnAppId``/``txnVersion`` — which generates gap-free ids,
    syncs the high-water mark, enforces constraints, and lands the
    SetTransaction watermark in the SAME commit — then deletes the
    staging files. One extra read+write of the BATCH (never the
    table), all executor-side; replays stay no-ops through append's
    own watermark check.

    SCALE: data never moves through the driver; each microbatch is N
    executor-local parquet writes + one O(metadata) commit."""

    def __init__(self, schema: StructType, options: dict,
                 overwrite: bool):
        if overwrite:
            raise ValueError(
                "delta_protocol sink supports APPEND output mode only"
            )
        path = options.get("path")
        if not path:
            raise ValueError(
                "delta_protocol sink requires .option('path', ...)"
            )
        self._path = os.path.abspath(path)
        self._schema = schema
        app_id = options.get("txnappid") or options.get(
            "checkpointlocation"
        )
        if not app_id:
            raise ValueError(
                "delta_protocol sink needs a txnAppId option or a"
                " checkpointLocation to key exactly-once commits"
            )
        self._app_id = str(app_id)
        # fail fast, driver-side, before any task runs
        from pyspark.sql import SparkSession

        from mack_spark.sources.delta_log import DeltaProtocolTable

        self._validate_target(DeltaProtocolTable(
            SparkSession.getActiveSession(), self._path
        ))

    def _validate_target(self, t) -> None:
        from mack_spark.sources.delta_log import (
            DeltaProtocolError,
            _identity_columns,
        )

        snap = t.snapshot()
        t._assert_writable(snap)
        self._pcols = list(snap.partition_columns)
        # logical → (physicalName, field id) when the target is
        # column-mapped; executors rename + stamp parquet.field.id so
        # staged files look exactly like the batch writer's
        self._phys = None
        if snap.column_mapping_mode != "none":
            phys = snap.physical_names()
            self._phys = {
                f.name: (
                    phys.get(f.name, f.name),
                    (f.metadata or {}).get("delta.columnMapping.id"),
                )
                for f in snap.schema.fields
            }
        ids = _identity_columns(snap.schema)
        self._identity_rewrite = bool(ids)
        stream_fields = {
            f.name: f.dataType for f in self._schema.fields
        }
        if ids:
            # identity values are writer-assigned: the stream must NOT
            # carry them (commit generates gap-free ids for the batch)
            explicit = sorted(set(stream_fields) & set(ids))
            if explicit:
                raise DeltaProtocolError(
                    f"the stream carries identity columns {explicit} —"
                    " identity values are writer-assigned; drop them"
                    " and let the sink generate ids at commit"
                )
            table_fields = {
                f.name: f.dataType for f in snap.schema.fields
                if f.name not in ids
            }
        else:
            table_fields = {
                f.name: f.dataType for f in snap.schema.fields
            }
        if table_fields != stream_fields:
            raise DeltaProtocolError(
                f"stream schema {sorted(stream_fields)} does not match"
                f" the table schema {sorted(table_fields)} — the sink"
                " is schema-enforced (no implicit evolution)"
            )

    def write(self, iterator) -> _SinkFileMessage:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from mack_spark.sources.delta_log import (
            STATS_COLS,
            _collect_file_stats,
        )

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _SinkFileMessage()
        tbl = pa.Table.from_batches(batches)

        def _to_physical(sub: "pa.Table") -> "pa.Table":
            if self._phys is None:
                return sub
            fields = []
            for name in sub.schema.names:
                f = sub.schema.field(name)
                phys, fid = self._phys.get(name, (name, None))
                md = (
                    {b"PARQUET:field_id": str(int(fid)).encode()}
                    if fid is not None else None
                )
                fields.append(pa.field(phys, f.type, f.nullable, md))
            return pa.table(sub.columns, schema=pa.schema(fields))

        def _emit(sub: "pa.Table", pv: Optional[dict]):
            sub = _to_physical(sub)
            fname = f"part-{_uuid.uuid4().hex}-stream.snappy.parquet"
            dest = os.path.join(self._path, fname)
            pq.write_table(sub, dest, compression="snappy")
            stats = _collect_file_stats(
                dest, list(sub.schema.names)[:STATS_COLS]
            )
            return {
                "rel_path": fname,
                "size": os.path.getsize(dest),
                "stats": stats,
                "partitionValues": pv or {},
            }

        if self._identity_rewrite:
            # identity target: stage the batch RAW (logical names, all
            # columns, no partition split) — commit() reads it back and
            # rewrites through the append path, which generates the ids
            # and handles partitioning/mapping
            fname = f"part-{_uuid.uuid4().hex}-stream-staged.snappy.parquet"
            pq.write_table(
                tbl, os.path.join(self._path, fname), compression="snappy"
            )
            return _SinkFileMessage([{
                "rel_path": fname,
                "size": os.path.getsize(os.path.join(self._path, fname)),
                "stats": "{}",
                "partitionValues": {},
            }])

        if not self._pcols:
            return _SinkFileMessage([_emit(tbl, None)])
        # partitioned target: one file per partition-value combination
        # this task saw (spec: data files exclude partition columns;
        # the log's partitionValues is authoritative — the reader
        # attaches them as typed literals, no directory layout needed)
        import pyarrow.compute as pc

        from mack_spark.tables import _partition_value_str

        entries = []
        distinct = tbl.group_by(self._pcols).aggregate([])
        for i in range(distinct.num_rows):
            mask = None
            pv = {}
            for c in self._pcols:
                # partitionValues are PHYSICAL-keyed on mapped tables
                pk = self._phys[c][0] if self._phys else c
                v = distinct.column(c)[i]
                if not v.is_valid:
                    cond = pc.is_null(tbl.column(c))
                    pv[pk] = None
                else:
                    cond = pc.equal(tbl.column(c), v)
                    pv[pk] = _partition_value_str(v.as_py())
                mask = cond if mask is None else pc.and_(mask, cond)
            sub = tbl.filter(mask).drop_columns(self._pcols)
            if sub.num_rows:
                entries.append(_emit(sub, pv))
        return _SinkFileMessage(entries)

    def _drop_staged(self, messages) -> None:
        for m in messages or []:
            for e in getattr(m, "entries", None) or []:
                try:
                    os.unlink(os.path.join(self._path, e["rel_path"]))
                except OSError:
                    pass

    def commit(self, messages, batchId: int) -> None:
        from pyspark.sql import SparkSession

        from mack_spark.sources.delta_log import (
            DeltaProtocolTable,
            _generated_columns,
            _now_ms,
        )
        from mack_spark.tables import ConcurrentModificationError

        # the streaming commit callback can run on a thread with no
        # ACTIVE session (Spark's microbatch thread pool) — fall back
        # to the process-wide instantiated session
        spark = SparkSession.getActiveSession()
        if spark is None:
            spark = SparkSession.builder.getOrCreate()
        t = DeltaProtocolTable(spark, self._path)
        files = [
            e for m in messages if m is not None
            for e in (getattr(m, "entries", None) or [])
        ]
        if self._identity_rewrite:
            # re-validate (schema may have moved mid-stream), then
            # rewrite the staged batch through the append path:
            # identity generation, hwm sync, constraint enforcement,
            # mapped physical naming, and the SetTransaction watermark
            # all land in ONE commit (append's txnAppId support); a
            # replayed batch is a no-op inside append itself
            self._validate_target(t)
            snap = t.snapshot()
            last = snap.txns.get(self._app_id)
            if last is not None and batchId <= last:
                self._drop_staged(messages)
                return
            staged = (
                spark.read.schema(self._schema).parquet(
                    *[os.path.join(self._path, e["rel_path"])
                      for e in files]
                )
                if files
                else spark.createDataFrame([], self._schema)
            )
            try:
                t.append(
                    staged, txn_app_id=self._app_id,
                    txn_version=int(batchId),
                )
            finally:
                self._drop_staged(messages)
            return
        for _attempt in range(5):
            snap = t.snapshot()
            self._validate_target(t)
            last = snap.txns.get(self._app_id)
            if last is not None and batchId <= last:
                # replayed microbatch after a restart — the previous
                # run's commit already holds these rows
                self._drop_staged(messages)
                return
            if not files:
                # empty batch still advances the watermark so a replay
                # of it stays a no-op
                actions = [
                    {"commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "STREAMING UPDATE",
                        "operationParameters": {
                            "outputMode": "Append",
                            "queryId": self._app_id,
                            "epochId": batchId,
                        },
                    }},
                    {"txn": {"appId": self._app_id,
                             "version": int(batchId)}},
                ]
            else:
                adds = [
                    {
                        "path": e["rel_path"],
                        "partitionValues": e.get("partitionValues") or {},
                        "size": e["size"],
                        "modificationTime": _now_ms(),
                        "dataChange": True,
                        "stats": e["stats"],
                    }
                    for e in files
                ]
                checks = t._check_constraints(snap)
                gen = _generated_columns(snap.schema)
                if checks or gen:
                    # read the staged files the way the table reader
                    # would (partition values attach as typed literals
                    # from the adds — staged files exclude partition
                    # columns), so constraints on partition columns
                    # evaluate correctly
                    from mack_spark.sources.delta_log import (
                        DeltaSnapshot,
                    )

                    pseudo = DeltaSnapshot(
                        snap.version, snap.metadata, snap.protocol,
                        {a["path"]: a for a in adds},
                    )
                    staged = t._read_files(
                        pseudo, [a["path"] for a in adds]
                    )
                    t._enforce_constraints(
                        snap, staged, t._gen_checks(snap, staged)
                    )
                actions = (
                    [
                        {"commitInfo": {
                            "timestamp": _now_ms(),
                            "operation": "STREAMING UPDATE",
                            "operationParameters": {
                                "outputMode": "Append",
                                "queryId": self._app_id,
                                "epochId": batchId,
                            },
                            "operationMetrics": {
                                "numAddedFiles": len(adds),
                            },
                        }},
                        {"txn": {"appId": self._app_id,
                                 "version": int(batchId)}},
                    ]
                    + [{"add": a} for a in adds]
                )
            try:
                t._commit(snap.version + 1, actions, snap=snap)
                return
            except ConcurrentModificationError:
                continue  # blind append: re-snapshot and retry
        raise ConcurrentModificationError(
            f"streaming sink lost the commit race 5 times at"
            f" {self._path} (batch {batchId})"
        )

    def abort(self, messages, batchId: int) -> None:
        self._drop_staged(messages)


class DeltaProtocolDataSource(DataSource):
    """``spark.dataSource.register(DeltaProtocolDataSource)`` then
    ``spark.read.format('delta_protocol').option('path', p)`` (batch,
    ``versionAsOf`` time travel) or
    ``spark.readStream.format('delta_protocol').option('path', p)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_protocol requires .option('path', ...)")
        v = self.options.get("versionasof")
        s = _table(os.path.abspath(path)).snapshot(
            version_as_of=int(v) if v is not None else None
        ).schema
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return _cdf_schema(s)
        return s

    def reader(self, schema) -> DeltaProtocolBatchReader:
        return DeltaProtocolBatchReader(dict(self.options))

    def streamReader(self, schema) -> DeltaProtocolStreamReader:
        return DeltaProtocolStreamReader(schema, dict(self.options))

    def streamWriter(self, schema, overwrite) -> DeltaProtocolStreamWriter:
        return DeltaProtocolStreamWriter(
            schema, dict(self.options), overwrite
        )


def register(spark) -> None:
    """Idempotent registration of the delta_protocol streaming format."""
    spark.dataSource.register(DeltaProtocolDataSource)
