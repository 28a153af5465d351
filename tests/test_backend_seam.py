"""The mutation seam: :class:`~mack_spark.sources.delta_log.DeltaProtocolTable`
is the package's only table type, and mack's table functions (dedup,
appends, SCD2, rollups, the foreachBatch sinks) change rows ONLY
through its ``append``, ``merge`` and ``overwrite`` — one substrate,
one commit protocol (reference substrate mack/__init__.py:125-139,
:190-192)."""

import ast
import os
import re

import pytest

import mack_spark
from mack_spark.sources.delta_log import DeltaProtocolTable

PKG_DIR = os.path.dirname(mack_spark.__file__)

# Modules allowed to issue raw DataFrame writes:
#  - tables.py holds the reference's catalog writes: ``saveAsTable`` in
#    copy_table(target_table=) and rename_delta_table;
#  - sources/ is the user-facing sink module (writes plain files the
#    user asked for, not managed-table mutations);
#  - sources/delta_log.py IS the mutation substrate (the open-protocol
#    Delta writer commits parquet data files + _delta_log actions).
_RAW_WRITE_ALLOWED = {
    "tables.py",
    os.path.join("sources", "__init__.py"),
    os.path.join("sources", "delta_log.py"),
}


def _py_sources():
    for root, _dirs, names in os.walk(PKG_DIR):
        for n in names:
            if n.endswith(".py"):
                full = os.path.join(root, n)
                yield os.path.relpath(full, PKG_DIR), open(full).read()


def test_one_table_substrate():
    """No module of the package, nor the driver entry point, names the
    retired versioned-parquet table or its metadata files."""
    entry = os.path.join(os.path.dirname(PKG_DIR), "__spark_entry__.py")
    sources = [*_py_sources(), ("__spark_entry__.py", open(entry).read())]
    retired = re.compile(r"\bManagedTable\b|_mack_meta\.json|\b_commits\b")
    offenders = [
        f"{rel}:{i}: {line.strip()}"
        for rel, src in sources
        for i, line in enumerate(src.splitlines(), 1)
        if retired.search(line)
    ]
    assert offenders == [], "\n".join(offenders)
    # VACUUM, SHALLOW CLONE and OPTIMIZE are table methods, not functions
    assert not {"vacuum", "shallow_clone", "optimize_compact"} & set(mack_spark.__all__)


def test_no_raw_writes_outside_backend_and_sinks():
    offenders = []
    for rel, src in _py_sources():
        if rel in _RAW_WRITE_ALLOWED:
            continue
        for i, line in enumerate(src.splitlines(), 1):
            if re.search(r"\.write\.|\bsaveAsTable\(|\.writeTo\(", line):
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert offenders == [], (
        "raw write call sites outside the backend/sink layer:\n"
        + "\n".join(offenders)
    )


# Functions of sources/delta_log.py that open a Spark DataFrameReader.
# Table data files are scanned only by the scan builder (_scan); the
# other two read parquet that is not (yet) table data: COPY INTO's
# source files and the files CONVERT TO DELTA adopts.
_READERS_ALLOWED = {"_scan", "copy_into", "convert_from_parquet"}


def _delta_log_tree():
    return ast.parse(
        open(os.path.join(PKG_DIR, "sources", "delta_log.py")).read()
    )


def _enclosing(tree, nodes, kind=ast.FunctionDef):
    """Names of the innermost functions (or classes, with ``kind``) of
    ``tree`` holding ``nodes``; None for a node outside every one."""
    scopes = [n for n in ast.walk(tree) if isinstance(n, kind)]
    names = set()
    for node in nodes:
        inner = [
            s for s in scopes if s.lineno <= node.lineno <= s.end_lineno
        ]
        names.add(max(inner, key=lambda s: s.lineno).name if inner else None)
    return names


def _calls(tree, name):
    """Every call of ``name(...)`` or ``x.name(...)`` in ``tree``."""
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call) and name in (
            getattr(n.func, "attr", None), getattr(n.func, "id", None)
        )
    ]


def test_table_data_scans_only_in_the_scan_builder():
    """Every read path of the protocol table (plain, deletion vectors,
    row ids, change feed, DELETE/UPDATE file matching) composes
    ``_scan``: one place maps the column-mapping mode, groups files by
    partition and names each scanned file."""
    tree = _delta_log_tree()
    called = {
        id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
    }
    readers = _enclosing(tree, (
        node for node in ast.walk(tree)
        # ``x.read`` as a value (a DataFrameReader), not ``fh.read()``
        if isinstance(node, ast.Attribute) and node.attr == "read"
        and id(node) not in called
    ))
    assert readers == _READERS_ALLOWED


def test_remove_actions_built_only_by_the_remove_builder():
    """Every commit path builds its ``remove`` actions with
    ``_remove_action``, which carries the removed add's deletion
    vector. A ``{"remove": ...}`` action dict, or a dict with a
    ``deletionTimestamp`` field, built anywhere else could drop it."""
    tree = _delta_log_tree()

    def keys(node):
        return [k.value for k in node.keys if isinstance(k, ast.Constant)]

    builders = _enclosing(tree, (
        node for node in ast.walk(tree)
        if isinstance(node, ast.Dict) and (
            keys(node) == ["remove"] or "deletionTimestamp" in keys(node)
        )
    ))
    assert builders == {"_remove_action"}


def test_identity_and_change_files_written_in_one_place():
    """One identity step, ``_IdentityWrite``, stamps identity values and
    moves their high-water mark for every write that adds rows (CREATE,
    append, overwrite, replaceWhere, MERGE), and change-data files are
    written by the two mutation bodies only: ``_delete_or_update``
    (DELETE, UPDATE, replaceWhere) and MERGE's."""
    tree = _delta_log_tree()
    assert len(_calls(tree, "_generate_identity")) == 1
    assert _enclosing(
        tree,
        _calls(tree, "_generate_identity")
        + _calls(tree, "_patch_identity_hwm"),
        kind=ast.ClassDef,
    ) == {"_IdentityWrite"}
    assert _enclosing(tree, _calls(tree, "_write_cdc_files")) == {
        "_delete_or_update", "_merge_impl",
    }


# mack's mutating modules, and the DeltaProtocolTable methods they may
# call: the three mutations plus reads and CREATE.
_MUTATING_MODULES = [
    "dedup.py", "appends.py", "scd.py", "rollup.py",
    os.path.join("streaming", "__init__.py"),
]
_MUTATIONS = {"append", "merge", "overwrite"}
_READS = {"to_df", "snapshot", "detail", "table_changes", "create"}


def test_mutations_route_through_append_or_merge_overwrite_only():
    """Enumerate every call of a DeltaProtocolTable method name in the
    mutating modules: each is ``append``/``merge``/``overwrite`` or a
    read — never ``delete_where``/``update_where``/``set_properties``."""
    table_methods = {
        n for n in dir(DeltaProtocolTable) if not n.startswith("__")
    }
    seen, offenders = set(), []
    for rel in _MUTATING_MODULES:
        src = open(os.path.join(PKG_DIR, rel)).read()
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
            ):
                continue
            name = node.func.attr
            if name in table_methods:
                seen.add(name)
                if name not in _MUTATIONS | _READS:
                    offenders.append(f"{rel}:{node.lineno}: .{name}(")
    assert offenders == [], (
        "mutations bypassing append/merge/overwrite:\n" + "\n".join(offenders)
    )
    assert _MUTATIONS <= seen


# ------------------------------------------------------------- keyed merge
def _scd_frames(spark):
    base = spark.createDataFrame(
        [(1, "A", True, None, None)],
        "pkey int, attr string, is_current boolean, effective_time timestamp, end_time timestamp",
    )
    updates = spark.createDataFrame(
        [(1, "A2", None)], "pkey int, attr string, effective_time timestamp"
    )
    return base, updates


def test_scd2_keyed_merge_compiles_reference_clauses(spark):
    """The SCD2 descriptor carries the reference's clause set
    (mack/__init__.py:125-139): one conditional matched update that
    closes the current row, one unconditional insert."""
    from mack_spark.scd import scd2_keyed_merge

    base, updates = _scd_frames(spark)
    km = scd2_keyed_merge(
        base, updates, "pkey", ["attr"],
        "is_current", "effective_time", "end_time",
    )
    # staged source carries the dual-row mergeKey idiom
    assert km.source.columns[0] == "mergeKey"
    staged = {(r["mergeKey"], r["attr"]) for r in km.source.collect()}
    assert staged == {(None, "A2"), (1, "A2")}

    assert km.condition == "base.`pkey` = staged.mergeKey"
    assert "base.`is_current` = true" in km.matched_update_condition
    assert "staged.`attr` <> base.`attr`" in km.matched_update_condition
    assert km.matched_update == {
        "is_current": "false", "end_time": "staged.`effective_time`"
    }
    assert km.matched_delete is None
    assert km.not_matched_condition is None  # unconditional insert
    ins = km.not_matched_insert
    assert ins["pkey"] == "staged.`pkey`" and ins["is_current"] == "true"
    assert ins["end_time"] == "null"
    assert (km.target_key_col, km.source_key_col) == ("pkey", "mergeKey")


def test_kill_duplicates_keyed_merge_is_delete(spark, tmp_path, monkeypatch):
    """kill_duplicates is one delete-only MERGE of the duplicate key set
    under plain ``=`` (reference mack/__init__.py:183-192)."""
    import mack_spark as mk

    seen = []
    real = DeltaProtocolTable.merge

    def spy(self, km, **kw):
        seen.append(km)
        return real(self, km, **kw)

    monkeypatch.setattr(DeltaProtocolTable, "merge", spy)
    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "km"),
        spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["pkey", "c1"]),
    )
    mk.kill_duplicates(t, ["c1"])
    [km] = seen
    assert km.matched_delete is True
    assert km.matched_update is None and km.not_matched_insert is None
    assert km.condition == "t.`c1` = s.`c1`"
    assert [r["c1"] for r in t.to_df().collect()] == ["b"]


# -------------------------------------------------- descriptor semantics
# The tests above pin the SHAPE of the descriptors; these pin their
# MEANING: interpreting the KeyedMerge descriptor with a faithful
# pure-DataFrame MERGE executor (tests/merge_interpreter.py) must
# reproduce scd2_post_state — the same upsert as one read-only plan —
# on randomized bases and update batches. A wrong clause set, condition
# string, or staging expression diverges here.


def _random_scd2_inputs(spark, seed):
    import random

    rng = random.Random(seed)
    attrs = ["red", "blue", "green", None]
    eff0 = "2020-01-01"
    base_rows = []
    for pk in range(rng.randint(3, 12)):
        versions = rng.randint(0, 2)  # 0 = pkey absent from base
        for v in range(versions):
            is_cur = v == versions - 1 and rng.random() < 0.85
            base_rows.append(
                (
                    pk,
                    rng.choice(attrs),
                    is_cur,
                    f"{eff0} 00:00:0{v}",
                    None if is_cur else f"{eff0} 00:00:0{v + 1}",
                )
            )
    upd_rows = []
    for pk in rng.sample(range(16), rng.randint(1, 8)):  # unique pkeys
        upd_rows.append((pk, rng.choice(attrs), "2021-06-01 00:00:00"))
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        base_rows or [(0, "red", True, f"{eff0} 00:00:00", None)],
        "pkey int, attr string, is_current boolean, effective_time string, end_time string",
    ).select(
        "pkey",
        "attr",
        "is_current",
        F.to_timestamp("effective_time").alias("effective_time"),
        F.to_timestamp("end_time").alias("end_time"),
    )
    updates = spark.createDataFrame(
        upd_rows, "pkey int, attr string, effective_time string"
    ).select("pkey", "attr", F.to_timestamp("effective_time").alias("effective_time"))
    return base, updates


# slow (~55 s): exhaustive descriptor/post-state equivalence; the per-operation seam tests pin the contract
@pytest.mark.slow
def test_keyed_merge_descriptor_equals_post_state(spark):
    from merge_interpreter import interpret_keyed_merge

    from mack_spark.scd import scd2_keyed_merge, scd2_post_state

    for seed in range(12):
        base, updates = _random_scd2_inputs(spark, seed)
        km = scd2_keyed_merge(
            base, updates, "pkey", ["attr"],
            "is_current", "effective_time", "end_time",
        )
        merged = interpret_keyed_merge(base, km)
        expected = scd2_post_state(
            base, updates, "pkey", ["attr"],
            "is_current", "effective_time", "end_time",
        )
        nonesafe = lambda t: tuple((v is None, v) for v in t)
        a = sorted((tuple(r) for r in merged.collect()), key=nonesafe)
        e = sorted((tuple(r) for r in expected.collect()), key=nonesafe)
        assert a == e, f"seed={seed}: merge clauses diverge from post-state\n{a}\n{e}"


def test_keyed_merge_interpreter_rejects_ambiguous_source(spark):
    """Duplicate update pkeys match one target row twice — the
    interpreter must refuse like Delta does, not pick a winner."""
    import pytest as _pytest

    from merge_interpreter import interpret_keyed_merge

    from mack_spark.scd import scd2_keyed_merge

    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "red", True, "2020-01-01 00:00:00", None)],
        "pkey int, attr string, is_current boolean, effective_time string, end_time string",
    ).select(
        "pkey", "attr", "is_current",
        F.to_timestamp("effective_time").alias("effective_time"),
        F.to_timestamp("end_time").alias("end_time"),
    )
    updates = spark.createDataFrame(
        [(1, "blue", "2021-01-01 00:00:00"), (1, "green", "2021-01-01 00:00:00")],
        "pkey int, attr string, effective_time string",
    ).select("pkey", "attr", F.to_timestamp("effective_time").alias("effective_time"))
    km = scd2_keyed_merge(
        base, updates, "pkey", ["attr"],
        "is_current", "effective_time", "end_time",
    )
    with _pytest.raises(ValueError, match="ambiguous"):
        interpret_keyed_merge(base, km).collect()


def test_insert_condition_compiles_and_interprets(spark):
    """The rollup-refresh descriptor shape: conditional update, delete
    for zero-count groups, CONDITIONAL insert. The interpreter must
    honor the insert condition (a new group with n=0 appears
    nowhere)."""
    from conftest import assert_df_equality
    from merge_interpreter import interpret_keyed_merge

    from mack_spark.tables import KeyedMerge

    base = spark.createDataFrame(
        [("a", 2, 10), ("b", 1, 5)], "grp string, n_events int, fp int"
    )
    src = spark.createDataFrame(
        [("a", 3, 12), ("b", 0, 0), ("c", 0, 0), ("d", 4, 7)],
        "grp string, n_events int, fp int",
    )
    km = KeyedMerge(
        source=src,
        condition="t.`grp` <=> s.`grp`",
        matched_update={"n_events": "s.`n_events`", "fp": "s.`fp`"},
        matched_update_condition="s.`n_events` > 0",
        matched_delete=True,
        not_matched_insert="*",
        not_matched_condition="s.`n_events` > 0",
        target_key_col="grp",
        source_key_col="grp",
        null_safe=True,
    )
    out = interpret_keyed_merge(base, km)
    expected = spark.createDataFrame(
        [("a", 3, 12), ("d", 4, 7)], "grp string, n_events int, fp int"
    )
    assert_df_equality(out, expected)
