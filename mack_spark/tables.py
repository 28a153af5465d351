"""Versioned-parquet managed tables, the ``KeyedMerge`` descriptor and
the table-level utilities.

mack's row-level mutations (SCD2 upsert, the dedup family, guarded
appends, rollups, the foreachBatch sinks) all commit through one
substrate: the Delta-protocol table
(:class:`mack_spark.sources.delta_log.DeltaProtocolTable`), whose
``merge`` executes a :class:`KeyedMerge` with Delta's file-pruned
rewrite (reference mack/__init__.py:125-139, :190-192).

:class:`ManagedTable` is the store for the engine's index tables (IVF,
LSH and near-dup indexes) and the target of the copy, clone, vacuum and
size helpers. It supports create, read and time travel, append,
overwrite, properties and ``optimize_compact``; it has no MERGE. It
keeps the metadata surface those users consume:

* a version counter + operation history  (→ ``latest_version``,
  reference mack/__init__.py:616-627)
* table properties
* the declared schema, the read schema of every snapshot
* partition columns + file statistics      (→ ``copy_table`` /
  ``delta_file_sizes``, reference mack/__init__.py:310, :469)

Layout::

    <path>/_mack_meta.json      commit pointer + metadata (atomic rename)
    <path>/v=<K>/*.parquet      snapshot directory for commit K

Appends add parquet files to the current snapshot directory (no rewrite,
distributed write). Overwrites materialize a fresh ``v=K`` directory
then atomically swing the meta pointer — readers never observe a
half-written snapshot.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import shutil
import time
import uuid
from typing import Dict, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

META_FILE = "_mack_meta.json"
COMMITS_DIR = "_commits"
# A commit marker older than this whose version was never finalized is
# treated as the debris of a crashed writer and may be reclaimed by the
# next claimer (Delta-style stale-transaction cleanup). Large enough
# that no live writer sits between claim and finalize this long (both
# are driver-local metadata writes, microseconds apart).
STALE_COMMIT_TTL_SECONDS = 300.0


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


class ManagedTable:
    """Handle to a versioned-parquet table (mirrors ``delta.tables.DeltaTable``)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        if not os.path.exists(self._meta_path):
            raise ValueError(f"{self.path} is not a managed table (no {META_FILE})")

    # ------------------------------------------------------------------ meta
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, META_FILE)

    def _read_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        # Atomic pointer swing: write sidecar then rename over the meta file.
        tmp = self._meta_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path)

    def _conflict(self, target: int, meta: dict) -> ConcurrentModificationError:
        return ConcurrentModificationError(
            f"concurrent write to {self.path}: version {target} was "
            f"committed by another writer after this operation read "
            f"version {meta['version']}; re-read the table and retry"
        )

    def _claim_version(
        self, meta: dict, operation: str, payload: Optional[dict] = None
    ) -> int:
        """Claim version N+1 by creating ``_commits/v<N+1>.commit`` with
        O_EXCL — the same put-if-absent protocol Delta's ``_delta_log``
        uses (one file per version; the filesystem arbitrates). Exactly
        one writer wins a given version; the loser raises
        ConcurrentModificationError with its staged work never made
        visible (the meta pointer still names the winner's snapshot).

        Crash recovery (Delta-style stale-transaction cleanup): a writer
        that dies between claim and finalize leaves an orphaned marker
        with meta never advancing — without recovery every later writer
        targets the same version and loses the CAS forever (a permanent
        write wedge). On FileExistsError the claimer re-reads meta: if
        the marker's version is already committed the conflict is
        genuine; if meta is still behind AND the marker is older than
        ``STALE_COMMIT_TTL_SECONDS``, the marker is reclaimed — undoing
        any half-applied append files it recorded — and the CAS
        re-raced. After winning, the claimer re-checks the on-disk
        version: ``vacuum()`` prunes markers only for durably committed
        versions, so a stale writer that slips through a pruned marker
        is deterministically caught here and never finalizes."""
        target = meta["version"] + 1
        commits = os.path.join(self.path, COMMITS_DIR)
        os.makedirs(commits, exist_ok=True)
        marker = os.path.join(commits, f"v{target:020d}.commit")
        fd = None
        for attempt in (0, 1):
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if attempt == 0 and self._reclaim_orphan_marker(marker, target):
                    continue
                raise self._conflict(target, meta) from None
        try:
            if self._read_meta()["version"] >= target:
                os.unlink(marker)
                raise self._conflict(target, meta)
            body = {"operation": operation, "timestamp": time.time()}
            if payload:
                body.update(payload)
            os.write(fd, json.dumps(body).encode())
        finally:
            os.close(fd)
        return target

    def _reclaim_orphan_marker(self, marker: str, target: int) -> bool:
        """True iff ``marker`` was orphaned by a crashed writer and has
        now been removed, so the caller should re-race the CAS. Reclaims
        only when (a) the on-disk committed version is still below the
        marker's — a finalized commit is never reclaimed — and (b) the
        marker is older than ``STALE_COMMIT_TTL_SECONDS``, so an
        in-flight writer between claim and finalize is never preempted.
        Any staged-file list a crashed ``append`` recorded in the marker
        is rolled back first, so a half-applied append can't be made
        durable by the next commit. Removal is race-safe: concurrent
        reclaimers both unlink (one wins, the other ignores ENOENT),
        then re-race the O_EXCL create, which again admits exactly one.
        """
        if self._read_meta()["version"] >= target:
            return False
        try:
            st = os.stat(marker)
        except FileNotFoundError:
            return True  # another reclaimer got it first; re-race
        if time.time() - st.st_mtime < STALE_COMMIT_TTL_SECONDS:
            return False
        self._undo_marker_files(marker)
        try:
            os.unlink(marker)
        except FileNotFoundError:
            pass
        return True

    def _undo_marker_files(self, marker: str) -> None:
        """Roll back the half-applied append a crashed writer recorded
        in its marker: unlink every staged file it listed from the live
        snapshot (files it never got to move are simply absent). Staged
        names are writer-unique (spark part-<task>-<uuid>), so this
        never touches another commit's files."""
        try:
            with open(marker) as f:
                body = json.load(f)
        except (OSError, ValueError):
            return
        snap = self._snapshot_dir()
        for rel in body.get("files") or []:
            if os.path.isabs(rel) or ".." in rel.split(os.sep):
                continue
            try:
                os.unlink(os.path.join(snap, rel))
            except OSError:
                pass

    def _finalize(self, meta: dict, operation: str, target: int,
                  new_snapshot: Optional[str] = None,
                  files_added: Optional[List[str]] = None) -> None:
        meta["version"] = target
        entry = {
            "version": target, "operation": operation, "timestamp": time.time()
        }
        if new_snapshot is not None:
            meta["current"] = new_snapshot
        else:
            # In-place commit (append / property change): record the
            # file manifest delta so earlier versions of the SAME
            # snapshot era stay reconstructable (current files minus
            # later additions) — the Delta-log idea applied to this
            # layout. Snapshot-replacing commits omit the key, marking
            # an era boundary.
            entry["files_added"] = list(files_added or [])
        meta["history"].append(entry)
        self._write_meta(meta)

    def _commit(self, meta: dict, operation: str, new_snapshot: Optional[str] = None) -> None:
        """Optimistic-concurrency commit = claim (CAS) then finalize."""
        target = self._claim_version(meta, operation)
        self._finalize(meta, operation, target, new_snapshot=new_snapshot)

    def _plan_retention(self, meta: dict, old_snapshot: str) -> List[str]:
        """Decide the outgoing snapshot's fate under the
        ``mack.retain_snapshots`` table property (default 0: delete
        immediately — the pre-time-travel behavior). With N > 0 the last
        N replaced snapshots stay on disk and readable
        (``toDF(version=...)`` / ``restore``), Delta-style time travel
        with an explicit retention knob instead of a VACUUM horizon.
        Mutates ``meta['retained']`` (so it rides the same commit) and
        returns the dirs to physically delete AFTER the commit succeeds.
        Hard-linked files shared with newer snapshots survive deletion
        of the dir that first wrote them (inode refcounting).
        """
        try:
            retain = int(meta.get("properties", {}).get("mack.retain_snapshots", 0))
        except (TypeError, ValueError):
            retain = 0
        retained = meta.setdefault("retained", [])
        to_delete = []
        if retain > 0:
            retained.append({"version": meta["version"], "dir": old_snapshot})
            while len(retained) > retain:
                to_delete.append(retained.pop(0)["dir"])
        else:
            to_delete.append(old_snapshot)
        return to_delete

    # ------------------------------------------------------------------ create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: Optional[DataFrame] = None,
        schema: Optional[StructType] = None,
        partition_by: Optional[List[str]] = None,
        properties: Optional[Dict[str, str]] = None,
    ) -> "ManagedTable":
        """Create a managed table from a DataFrame (or empty, from a schema).

        Column nullability is captured from the declared ``schema`` (or
        the DataFrame's schema) — parquet round-trips lose nullability,
        so it must be recorded at declaration time.
        """
        path = os.path.abspath(path)
        os.makedirs(path, exist_ok=True)
        if os.path.exists(os.path.join(path, META_FILE)):
            raise ValueError(f"managed table already exists at {path}")
        declared = schema if schema is not None else (df.schema if df is not None else None)
        if declared is None:
            raise ValueError("create() needs a df or a schema")
        props = dict(properties or {})
        snapshot = "v=0"
        snap_dir = os.path.join(path, snapshot)
        if df is not None:
            from mack_spark.layout import optimize_write_partitions

            writer = optimize_write_partitions(df).write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(snap_dir)
        else:
            spark.createDataFrame([], declared).write.mode("overwrite").parquet(snap_dir)
        meta = {
            "version": 0,
            "current": snapshot,
            "partition_columns": list(partition_by or []),
            "properties": props,
            "schema": declared.json(),
            "history": [{"version": 0, "operation": "CREATE", "timestamp": time.time()}],
        }
        table = cls.__new__(cls)
        table.spark = spark
        table.path = path
        table._write_meta(meta)
        return table

    @classmethod
    def for_path(cls, spark: SparkSession, path: str) -> "ManagedTable":
        return cls(spark, path)

    @staticmethod
    def is_managed(path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), META_FILE))

    # ------------------------------------------------------------------ read
    def _snapshot_dir(self, meta: Optional[dict] = None) -> str:
        meta = meta or self._read_meta()
        return os.path.join(self.path, meta["current"])

    def toDF(self, version: Optional[int] = None) -> DataFrame:
        """Current snapshot as a DataFrame (mirrors ``DeltaTable.toDF()``).

        ``version`` time-travels to a RETAINED snapshot (Delta's
        ``versionAsOf``): available for the last ``mack.retain_snapshots``
        replaced versions (table property, default 0 = no retention).
        Retained snapshots are read with the CURRENT declared schema —
        columns added since surface as NULLs, columns dropped since are
        absent — matching how Delta reads old files through the live
        table schema.

        Reads with the *declared* schema: files written before a
        merge-schema append lack the newer columns (surfaced as NULLs),
        and an explicit schema also skips file-footer schema inference.
        Filters/projections applied by the caller push down into the
        scan (Catalyst ``PushedFilters``).
        """
        meta = self._read_meta()
        snap_dir = self._snapshot_dir(meta)
        explicit_files: Optional[List[str]] = None
        if version is not None and version != meta["version"]:
            explicit_files = self._in_era_files(meta, version)
            if explicit_files is None:
                entry = next(
                    (s for s in meta.get("retained", []) if s["version"] == version),
                    None,
                )
                if entry is None:
                    avail = [s["version"] for s in meta.get("retained", [])]
                    raise ValueError(
                        f"version {version} is not retained (current="
                        f"{meta['version']}, retained={avail}); set the "
                        f"'mack.retain_snapshots' table property to keep "
                        f"replaced snapshots readable"
                    )
                snap_dir = os.path.join(self.path, entry["dir"])
        reader = self.spark.read.schema(
            StructType.fromJson(json.loads(meta["schema"]))
        )
        if meta["partition_columns"]:
            # Partition discovery needs basePath so partition cols survive.
            reader = reader.option("basePath", snap_dir)
        if explicit_files is not None:
            if not explicit_files:
                return self.spark.createDataFrame(
                    [], StructType.fromJson(json.loads(meta["schema"]))
                )
            return reader.parquet(*explicit_files)
        return reader.parquet(snap_dir)

    def _in_era_files(self, meta: dict, version: int) -> Optional[List[str]]:
        """File list for a version that lives in the CURRENT snapshot
        era: every commit after it was an in-place append/property
        change whose ``files_added`` manifest was recorded, so the old
        version is exactly the current files minus the later additions
        (data files are immutable — appends only ever add). Returns
        None when a snapshot-replacing commit (no manifest) intervenes —
        the caller then falls back to retained-snapshot resolution."""
        if version >= meta["version"] or version < 0:
            return None
        later = [
            h for h in meta.get("history", []) if h["version"] > version
        ]
        if len(later) != meta["version"] - version or any(
            "files_added" not in h for h in later
        ):
            return None
        snap = self._snapshot_dir(meta)
        added = {
            os.path.normpath(rel) for h in later for rel in h["files_added"]
        }
        return [
            f
            for f in self._data_files()
            if os.path.normpath(os.path.relpath(f, snap)) not in added
        ]

    def restore(self, version: int) -> None:
        """RESTORE TABLE ... TO VERSION AS OF: commit a NEW version whose
        content is the retained snapshot's content (history moves
        forward, as in Delta — a restore is an operation, not an undo).
        The restored files are hard-linked, so the restore itself is
        metadata-speed regardless of table size. Works for retained
        snapshots AND for in-era versions (append manifests make any
        version of the current snapshot era reconstructable)."""
        meta = self._read_meta()
        in_era = self._in_era_files(meta, version)
        if in_era is not None:
            snap = self._snapshot_dir(meta)
            link_files = [(f, os.path.relpath(f, snap)) for f in in_era]
        else:
            entry = next(
                (s for s in meta.get("retained", []) if s["version"] == version),
                None,
            )
            if entry is None:
                raise ValueError(f"version {version} is not retained")
            src = os.path.join(self.path, entry["dir"])
            link_files = []
            for root, _dirs, names in os.walk(src):
                rel = os.path.relpath(root, src)
                for n in names:
                    if n.endswith(".parquet") and not n.startswith(("_", ".")):
                        link_files.append(
                            (
                                os.path.join(root, n),
                                n if rel == "." else os.path.join(rel, n),
                            )
                        )
        old_snapshot = meta["current"]
        new_snapshot = f"v={meta['version'] + 1}-{uuid.uuid4().hex[:8]}"
        new_dir = os.path.join(self.path, new_snapshot)
        os.makedirs(new_dir, exist_ok=True)
        for src_path, rel in link_files:
            dest = os.path.join(new_dir, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            try:
                os.link(src_path, dest)
            except OSError:
                shutil.copy2(src_path, dest)
        to_delete = self._plan_retention(meta, old_snapshot)
        try:
            self._commit(
                meta, f"RESTORE VERSION AS OF {version}", new_snapshot=new_snapshot
            )
        except ConcurrentModificationError:
            shutil.rmtree(new_dir, ignore_errors=True)
            raise
        for d in to_delete:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    @property
    def declared_schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._read_meta()["schema"]))

    def detail(self) -> dict:
        """Table metadata (mirrors ``DeltaTable.detail()`` row)."""
        meta = self._read_meta()
        files = self._data_files()
        return {
            "location": self.path,
            "partitionColumns": meta["partition_columns"],
            "properties": meta["properties"],
            "numFiles": len(files),
            "sizeInBytes": sum(os.path.getsize(f) for f in files),
        }

    def history(self) -> List[dict]:
        return list(self._read_meta()["history"])

    def _data_files(self) -> List[str]:
        out = []
        for root, _dirs, names in os.walk(self._snapshot_dir()):
            out.extend(
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            )
        return out

    # ------------------------------------------------------------------ write
    def append(self, df: DataFrame, merge_schema: bool = False, operation: str = "WRITE") -> None:
        """Distributed append: add parquet files to the current snapshot.

        ``merge_schema`` widens the declared schema with new columns
        (mirrors Delta's ``option("mergeSchema","true")``, reference
        mack/__init__.py:378). Parquet readers union schemas per file, so
        no data rewrite is needed.

        Files are staged into a hidden temp directory and only moved
        into the live snapshot after the distributed write fully
        succeeds, so a job that dies mid-write never leaves partial
        files visible to readers (the same write-then-commit shape as
        the overwrite path; file moves are same-filesystem renames).
        """
        meta = self._read_meta()
        declared = StructType.fromJson(json.loads(meta["schema"]))
        new_cols = [f for f in df.schema.fields if f.name not in declared.fieldNames()]
        if new_cols:
            if not merge_schema:
                raise TypeError(
                    f"append has columns not in table schema: {[f.name for f in new_cols]}"
                )
            for f in new_cols:
                declared = declared.add(f)
            meta["schema"] = declared.json()
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        try:
            from mack_spark.layout import optimize_write_partitions

            writer = optimize_write_partitions(df).write.mode("overwrite")
            if meta["partition_columns"]:
                writer = writer.partitionBy(*meta["partition_columns"])
            writer.parquet(staging)
            # Claim the version BEFORE moving files into the live
            # snapshot: a writer that loses the CAS leaves nothing
            # visible (its staging dir is simply removed). The staged
            # file list rides in the marker so a crash between claim
            # and finalize can be rolled back by the next claimer
            # (_undo_marker_files) instead of leaving a half-applied
            # append visible forever.
            staged = []
            for root, _dirs, names in os.walk(staging):
                rel = os.path.relpath(root, staging)
                for n in names:
                    if not n.endswith(".parquet") or n.startswith(("_", ".")):
                        continue
                    staged.append(n if rel == "." else os.path.join(rel, n))
            target = self._claim_version(meta, operation, payload={"files": staged})
            snap = self._snapshot_dir(meta)
            for rel in staged:
                dest = os.path.join(snap, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(os.path.join(staging, rel), dest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        self._finalize(meta, operation, target, files_added=staged)

    def overwrite(
        self,
        df: DataFrame,
        operation: str = "WRITE",
        partition_by: Optional[List[str]] = None,
        schema_change: bool = True,
        sized: bool = True,
    ) -> None:
        """Materialize ``df`` as a fresh snapshot, then swing the pointer.

        The new snapshot is fully written before the commit, so a crash
        mid-write leaves the previous snapshot intact (same guarantee
        shape as a Delta overwrite transaction). Old snapshots are
        garbage-collected immediately (no time travel — the reference's
        ``copy_table`` explicitly does not copy history either,
        reference README.md:201).
        """
        meta = self._read_meta()
        old_snapshot = meta["current"]
        # Writer-unique dir name: two racing overwrites must stage into
        # DIFFERENT directories; the commit CAS then picks one pointer.
        new_snapshot = f"v={meta['version'] + 1}-{uuid.uuid4().hex[:8]}"
        parts = partition_by if partition_by is not None else meta["partition_columns"]
        if sized:
            # sized=False: the caller (optimize_compact / clustered
            # rewrites) laid out the partitioning itself — respect it
            from mack_spark.layout import optimize_write_partitions

            df = optimize_write_partitions(df)
        writer = df.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(os.path.join(self.path, new_snapshot))
        meta["partition_columns"] = list(parts or [])
        if schema_change:
            meta["schema"] = df.schema.json()
        to_delete = self._plan_retention(meta, old_snapshot)
        try:
            self._commit(meta, operation, new_snapshot=new_snapshot)
        except ConcurrentModificationError:
            shutil.rmtree(os.path.join(self.path, new_snapshot), ignore_errors=True)
            raise
        for d in to_delete:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def _commit_partial_rewrite(
        self,
        meta: dict,
        operation: str,
        rewrite_df: DataFrame,
        untouched_files: List[str],
        sized: bool = True,
    ) -> None:
        """Write ``rewrite_df`` as the next snapshot's rewritten region,
        hard-link ``untouched_files`` unchanged (zero copy), commit."""
        old_snapshot = meta["current"]
        new_snapshot = f"v={meta['version'] + 1}-{uuid.uuid4().hex[:8]}"
        new_dir = os.path.join(self.path, new_snapshot)
        if sized:
            from mack_spark.layout import optimize_write_partitions

            rewrite_df = optimize_write_partitions(rewrite_df)
        rewrite_df.write.mode("overwrite").parquet(new_dir)
        for f in untouched_files:
            dest = os.path.join(new_dir, os.path.basename(f))
            if os.path.exists(dest):  # pragma: no cover - uuid part names
                dest = os.path.join(
                    new_dir, f"link-{uuid.uuid4().hex[:8]}-{os.path.basename(f)}"
                )
            try:
                os.link(f, dest)
            except OSError:
                shutil.copy2(f, dest)
        to_delete = self._plan_retention(meta, old_snapshot)
        try:
            self._commit(meta, operation, new_snapshot=new_snapshot)
        except ConcurrentModificationError:
            shutil.rmtree(new_dir, ignore_errors=True)
            raise
        for d in to_delete:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    # ---------------------------------------------------------------- props
    def set_properties(self, props: Dict[str, str]) -> None:
        meta = self._read_meta()
        meta["properties"].update(props)
        self._commit(meta, "SET TBLPROPERTIES")


def _to_df(source: Union[ManagedTable, DataFrame]) -> DataFrame:
    if isinstance(source, DataFrame):
        return source
    if hasattr(source, "toDF"):  # ManagedTable
        return source.toDF()
    raise TypeError(f"expected a table or DataFrame, got {type(source)}")


# ---------------------------------------------------------------------------
# Table-level utilities (reference mack/__init__.py:287-325, :459-509,
# :616-627, :696-737)
# ---------------------------------------------------------------------------

def copy_table(
    table: ManagedTable,
    target_path: str = "",
    target_table: str = "",
    spark: Optional[SparkSession] = None,
) -> Optional[ManagedTable]:
    """Clone data + partitioning + properties, NOT history.

    Parity with reference ``copy_table`` (mack/__init__.py:287-325): the
    copy starts a fresh history (reference README.md:201). Like the
    reference, the target is either a filesystem path (``target_path``,
    returns the new :class:`ManagedTable`) or a metastore table name
    (``target_table`` → ``saveAsTable`` with the source's partitioning
    and properties carried as writer options, reference
    mack/__init__.py:312-318; returns None — the copy is owned by the
    catalog, query it via ``spark.table(target_table)``).
    """
    if not target_path and not target_table:
        raise TypeError("Either target_path or target_table must be specified.")
    details = table.detail()
    if target_table:
        (
            table.toDF()
            .write.partitionBy(details["partitionColumns"])
            .options(**details["properties"])
            .saveAsTable(target_table)
        )
        return None
    return ManagedTable.create(
        spark or table.spark,
        target_path,
        df=table.toDF(),
        partition_by=details["partitionColumns"],
        properties=details["properties"],
        schema=table.declared_schema,
    )


def rename_table(table: ManagedTable, new_path: str) -> ManagedTable:
    """Move a managed table to a new location/name.

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
    return ManagedTable(table.spark, new_path)


def shallow_clone(table: ManagedTable, target_path: str) -> ManagedTable:
    """Zero-copy clone (Delta ``CREATE TABLE ... SHALLOW CLONE``): the
    clone's snapshot hard-links the source's current data files, so a
    clone of any size costs metadata only. The clone starts version 0
    with the source's schema/partitioning/properties and an independent
    commit history; subsequent writes on either side never affect the
    other (mutations replace whole files, and hard-linked bytes survive
    via inode refcounting).
    Unlike Delta, there is no shared transaction log to dangle: deleting
    the source cannot break the clone.
    """
    target_path = os.path.abspath(target_path)
    if os.path.exists(target_path):
        raise ValueError(f"target {target_path} already exists")
    meta = table._read_meta()
    src_dir = table._snapshot_dir(meta)
    snap = "v=0"
    dst_dir = os.path.join(target_path, snap)
    for root, _dirs, names in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        dest = dst_dir if rel == "." else os.path.join(dst_dir, rel)
        os.makedirs(dest, exist_ok=True)
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                try:
                    os.link(os.path.join(root, n), os.path.join(dest, n))
                except OSError:
                    shutil.copy2(os.path.join(root, n), os.path.join(dest, n))
    os.makedirs(dst_dir, exist_ok=True)  # empty-source clone still valid
    new_meta = {
        "version": 0,
        "current": snap,
        "partition_columns": list(meta["partition_columns"]),
        "schema": meta["schema"],
        "properties": dict(meta["properties"]),
        "history": [
            {
                "version": 0,
                "operation": f"SHALLOW CLONE {table.path}",
                "timestamp": time.time(),
            }
        ],
    }
    clone = ManagedTable.__new__(ManagedTable)
    clone.spark = table.spark
    clone.path = target_path
    clone._write_meta(new_meta)
    return ManagedTable(table.spark, target_path)


def vacuum(table: ManagedTable, dry_run: bool = False) -> List[str]:
    """Delete files no live version references — Delta's ``VACUUM``
    for this layout. Removable garbage accumulates from (a) writers that
    crashed mid-stage (``.staging-*`` dirs), (b) commit-CAS losers that
    died before their own cleanup ran (orphan ``v=*`` dirs), and (c)
    commit markers for already-committed versions — safe to prune
    because every claimer re-checks the on-disk version after winning
    the marker CAS (``_claim_version``), so a pruned marker can never
    readmit a stale writer. A marker ABOVE the committed version is
    left alone: it is either an in-flight writer or crash debris, and
    ``_claim_version`` reclaims the latter after its staleness TTL.

    Safe under the commit protocol: a CONCURRENT writer stages into
    ``.staging-*``/unique ``v=*`` dirs *before* claiming a version, so
    vacuum can race it — run vacuum when no writer is active (the same
    operational contract as Delta VACUUM with retention 0).

    Returns the deleted (or, with ``dry_run``, deletable) paths.
    """
    meta = table._read_meta()
    live = {meta["current"]} | {s["dir"] for s in meta.get("retained", [])}
    doomed = []
    for name in sorted(os.listdir(table.path)):
        full = os.path.join(table.path, name)
        if not os.path.isdir(full) or name == COMMITS_DIR:
            continue
        if (name.startswith("v=") or name.startswith(".staging-")) and name not in live:
            doomed.append(full)
    commits = os.path.join(table.path, COMMITS_DIR)
    if os.path.isdir(commits):
        for name in sorted(os.listdir(commits)):
            if not name.endswith(".commit"):
                continue
            try:
                v = int(name[1 : -len(".commit")])
            except ValueError:
                continue
            if v <= meta["version"]:
                doomed.append(os.path.join(commits, name))
    if not dry_run:
        for d in doomed:
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
            else:
                try:
                    os.unlink(d)
                except OSError:
                    pass
    return doomed


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


def latest_version(table: ManagedTable) -> int:
    """Max version in history (reference mack/__init__.py:616-627)."""
    return max(h["version"] for h in table.history())


def file_sizes(table: ManagedTable) -> Dict[str, Union[int, float]]:
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


def optimize_compact(
    table: ManagedTable,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: Optional[List[str]] = None,
    selective: bool = False,
    min_file_bytes: Optional[int] = None,
) -> Dict[str, int]:
    """OPTIMIZE-style small-file compaction: rewrite the current
    snapshot into ``max(1, ceil(size / target_file_bytes))`` files.

    The remedy for the small-file problem ``file_sizes`` diagnoses
    (the reference exposes the diagnosis, mack/__init__.py:459-509, but
    not the fix — Delta users reach for ``OPTIMIZE``). SCALE: one
    distributed read + ``repartition`` + write; 128 MB targets the
    parquet row-group / HDFS-block sweet spot. Partitioned tables keep
    their partitioning (the repartition happens within the write).

    ``sort_by`` range-clusters the rewrite on the given columns
    (``OPTIMIZE ... ZORDER BY``'s one-dimensional cousin): files get
    disjoint key ranges, so a scan filtered on the key skips every
    file whose footer range misses it (the IVF index store probes
    cells this way). For true multi-column locality use
    :func:`mack_spark.operators.zorder_by`.

    ``selective=True`` is Delta ``OPTIMIZE``'s actual contract: only
    files smaller than ``min_file_bytes`` (default ``target / 2``) are
    read and re-binned; already-right-sized files are hard-linked
    untouched. After steady append traffic the small-file tail is a
    sliver of the table, so a selective OPTIMIZE costs O(small files),
    not O(table) — the difference between a nightly maintenance job and
    a nightly full rewrite at 100 TB. Selective mode skips partitioned
    tables and ``sort_by`` requests (a global re-cluster genuinely
    rewrites everything) and falls back to the full rewrite.

    Returns ``{"files_before": int, "files_after": int}``.
    """
    import math

    before = table.detail()
    meta = table._read_meta()
    if (
        selective
        and not meta["partition_columns"]
        and not sort_by
        and before["numFiles"] > 1
    ):
        if min_file_bytes is None:
            min_file_bytes = target_file_bytes // 2
        files = table._data_files()
        small = [f for f in files if os.path.getsize(f) < min_file_bytes]
        big = [f for f in files if os.path.getsize(f) >= min_file_bytes]
        if len(small) > 1 and big:
            small_bytes = sum(os.path.getsize(f) for f in small)
            n = max(1, math.ceil(small_bytes / target_file_bytes))
            declared = StructType.fromJson(json.loads(meta["schema"]))
            rewrite = (
                table.spark.read.schema(declared)
                .parquet(*small)
                .repartition(n)
            )
            table._commit_partial_rewrite(
                meta, "OPTIMIZE", rewrite, big, sized=False
            )
            return {
                "files_before": before["numFiles"],
                "files_after": table.detail()["numFiles"],
            }
    n = max(1, math.ceil(before["sizeInBytes"] / target_file_bytes))
    df = table.toDF()
    if sort_by:
        df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n)
    table.overwrite(df, operation="OPTIMIZE", schema_change=False, sized=False)
    return {
        "files_before": before["numFiles"],
        "files_after": table.detail()["numFiles"],
    }


def show_file_sizes(table: ManagedTable, humanize_binary: bool = False) -> None:
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
    delta_table: ManagedTable,
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
    path-backed ManagedTable has no catalog name, so the caller supplies
    it — defaulting to the path's basename). History-preserving renames
    of path-based tables should use :func:`rename_table` instead.
    """
    if not isinstance(delta_table, ManagedTable):
        raise TypeError("An existing delta table must be specified for delta_table.")
    if databricks and spark_session is None:
        raise TypeError("A spark session must be specified for databricks.")
    if databricks:
        old_name = table_location or os.path.basename(delta_table.path)
        rename_catalog_table(spark_session, old_name, new_table_name)
    else:
        delta_table.toDF().write.mode("overwrite").saveAsTable(new_table_name)


# Drop-in aliases under the reference's exact public names
# (mack/__init__.py:459 delta_file_sizes, :480 show_delta_file_sizes)
# so reference callers can switch imports without renaming call sites.
delta_file_sizes = file_sizes
show_delta_file_sizes = show_file_sizes
