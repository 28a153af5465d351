"""Pure-DataFrame interpreter for :class:`mack_spark.tables.KeyedMerge`.

Executes the exact clause semantics ``DeltaTable.merge`` applies to a
descriptor's clauses (reference mack/__init__.py:125-139):

* target rows matched by the ``condition`` get the FIRST applicable
  matched clause, in registration order (update, then delete —
  ``whenMatchedUpdate`` before ``whenMatchedDelete`` in the
  ``DeltaTable.merge`` clause chain); a NULL clause condition means
  not-applicable (three-valued SQL, same as Delta);
* a target row matched by MORE THAN ONE source row is an error
  (Delta's ``DeltaUnsupportedOperationException`` for ambiguous merges);
* source rows matching no target row take the not-matched insert
  clause; inserted values are cast to the target schema.

Execution shape mirrors Delta's real MERGE two-phase plan:

* **phase 1 — ambiguity probe**: one inner join projected down to
  ``__tid`` + the condition's columns (Catalyst column-prunes the scan
  to just the join keys), grouped to detect a target row matched by
  multiple source rows. Callers that can prove the merge unambiguous
  skip it (``assume_unambiguous=True``):
  :meth:`~mack_spark.sources.delta_log.DeltaProtocolTable.merge` does
  so when the source rows it already collected are unique on the
  columns of the condition's top-level equalities
  (:func:`equi_source_columns`, :func:`rows_unique`). The probe still
  runs when the condition has no such equality, when a compared
  column is not atomic or its type differs from the target column's,
  when a float key holds NaN, and when the source outgrows the
  collect cap.
* **phase 2 — single rewrite join**: ONE ``full_outer`` join with
  presence markers on both sides; every output branch (updated /
  kept-matched / delete-dropped / unmatched-target / inserted) is a
  CASE over that one join, and the target-schema casts are folded into
  the same single projection. The projection is SQL text applied by
  one ``selectExpr`` (:class:`_ClauseSql`): one parse on the JVM
  instead of a py4j round trip per ``Column`` call.
* **insert-only merges** skip both: :func:`keyed_merge_inserts`
  anti-joins the source against the target and projects the insert
  clause, so no target row is rewritten.

Two consumers: tests/test_backend_seam.py verifies that interpreting
``scd2_keyed_merge`` equals ``scd2_post_state`` on arbitrary inputs,
and :meth:`mack_spark.sources.delta_log.DeltaProtocolTable.merge`
executes descriptors through it as phase 2 of a real, file-pruned
Delta-protocol MERGE commit.
"""

from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    MapType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# marker columns; stripped from the output projection
_TID = "__mack_merge_tid"
_SRC = "__mack_merge_src"


def quote_ident(name: str) -> str:
    """One identifier part, backtick-quoted."""
    return "`" + name.replace("`", "``") + "`"


def _str(s: str) -> str:
    """A SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_type(dt) -> str:
    """SQL text of a Spark type for ``CAST(... AS <type>)``: nested
    field names are quoted, so ``struct<`a b`:int>`` parses."""
    if isinstance(dt, StructType):
        fields = ",".join(
            f"{quote_ident(f.name)}:{_sql_type(f.dataType)}"
            for f in dt.fields
        )
        return f"struct<{fields}>"
    if isinstance(dt, ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _applies(present: bool, cond: Optional[str]) -> str:
    """Whether a clause applies to a row: absent → false, no condition
    → true, else its condition with NULL read as false."""
    if not present:
        return "false"
    if cond is None:
        return "true"
    return f"coalesce(({cond}), false)"


class _ClauseSql:
    """SQL text of a KeyedMerge's branch predicates and per-column
    branch values over the full-outer join of the target (alias
    ``target_alias``, marker ``_TID``) and the source (alias
    ``source_alias``, marker ``_SRC``). Every predicate is two-valued:
    the presence tests and the clause conditions never yield NULL.

    ``update``/``delete``: matched rows taking the update clause, and
    those taking the delete clause. ``kept``: matched rows neither
    clause applies to. ``nms_update``/``nms_delete``/``nms_kept``: the
    same for target rows no source row matched
    (whenNotMatchedBySource). ``insert``: source rows matching no
    target row that the insert clause takes."""

    def __init__(self, km):
        self.km = km
        self.src_cols = set(km.source.columns)
        t, s = km.target_alias, km.source_alias
        self.tp = tp = f"{t}.{quote_ident(_TID)} IS NOT NULL"
        sp = f"{s}.{quote_ident(_SRC)} IS NOT NULL"
        md = km.matched_delete
        upd = _applies(km.matched_update is not None,
                       km.matched_update_condition)
        dele = _applies(md is not None, None if md is True else md)
        nms_d = getattr(km, "not_matched_by_source_delete", None)
        nupd = _applies(
            getattr(km, "not_matched_by_source_update", None) is not None,
            getattr(km, "not_matched_by_source_update_condition", None),
        )
        ndel = _applies(nms_d is not None, None if nms_d is True else nms_d)
        self.update = f"{tp} AND {sp} AND {upd}"
        self.delete = f"{tp} AND {sp} AND NOT {upd} AND {dele}"
        self.kept = f"{tp} AND {sp} AND NOT {upd} AND NOT {dele}"
        self.nms_update = f"{tp} AND NOT {sp} AND {nupd}"
        self.nms_delete = f"{tp} AND NOT {sp} AND NOT {nupd} AND {ndel}"
        self.nms_kept = f"{tp} AND NOT {sp} AND NOT {nupd} AND NOT {ndel}"
        ins_cond = getattr(km, "not_matched_condition", None) or None
        self.insert = (
            "false" if km.not_matched_insert is None
            else f"NOT {tp} AND {sp} AND {_applies(True, ins_cond)}"
        )

    def pre(self, c: str) -> str:
        return f"{self.km.target_alias}.{quote_ident(c)}"

    def _src_or(self, c: str, other: str) -> str:
        if c in self.src_cols:
            return f"{self.km.source_alias}.{quote_ident(c)}"
        return other

    def post(self, c: str) -> str:
        # UPDATE SET * (whenMatchedUpdateAll): same-named source column
        # when the source carries one, else the target value
        upd = self.km.matched_update
        if upd == "*":
            return self._src_or(c, self.pre(c))
        if c in (upd or {}):
            return f"({upd[c]})"
        return self.pre(c)

    def nms_post(self, c: str) -> str:
        upd = getattr(self.km, "not_matched_by_source_update", None) or {}
        return f"({upd[c]})" if c in upd else self.pre(c)

    def ins(self, c: str) -> str:
        # INSERT *: by-name; target columns the source lacks are NULL
        # (delta's insert-all rule — e.g. after evolution the source
        # may not carry every target column). Explicit-values INSERT:
        # unspecified columns are NULL.
        ins = self.km.not_matched_insert
        if ins == "*":
            return self._src_or(c, "NULL")
        return f"({ins[c]})" if c in ins else "NULL"


def _join(base: DataFrame, km) -> DataFrame:
    tb = base.withColumn(_TID, F.monotonically_increasing_id())
    src = km.source.withColumn(_SRC, F.lit(True))
    return tb.alias(km.target_alias).join(
        src.alias(km.source_alias), F.expr(km.condition), "full_outer"
    )


def interpret_keyed_merge(
    base: DataFrame, km, assume_unambiguous: bool = False
) -> DataFrame:
    """``assume_unambiguous=True`` skips the phase-1 probe; callers pass
    it when they have already PROVEN no target row can match two source
    rows (e.g. :meth:`DeltaProtocolTable.merge` observes source rows
    unique on the condition's equality columns)."""
    t, s = km.target_alias, km.source_alias

    # phase 1: ambiguity probe. groupBy(__tid).count() only references
    # the join condition's columns, so Catalyst prunes both scans to the
    # key columns — this is the "touched-key detect" pass, not a second
    # read of the data columns.
    if not assume_unambiguous:
        tb = base.withColumn(_TID, F.monotonically_increasing_id())
        dup = (
            tb.alias(t)
            .join(km.source.alias(s), F.expr(km.condition), "inner")
            .groupBy(_TID)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "ambiguous merge: a target row is matched by multiple"
                " source rows"
            )

    # phase 2: one full-outer rewrite join. Single projection: per-row
    # CASE picks the branch value, cast to the target schema like
    # Delta's write path does (matched clause expressions, e.g. "false"
    # or "staged.`eff`", parse untyped)
    cs = _ClauseSql(km)
    exprs = []
    for f in base.schema.fields:
        c = f.name
        val = (
            f"CASE WHEN {cs.update} THEN {cs.post(c)}"
            f" WHEN {cs.nms_update} THEN {cs.nms_post(c)}"
            f" WHEN {cs.tp} THEN {cs.pre(c)}"
        )
        if km.not_matched_insert is not None:
            val += f" ELSE {cs.ins(c)}"
        exprs.append(
            f"CAST({val} END AS {_sql_type(f.dataType)}) AS {quote_ident(c)}"
        )
    keep = " OR ".join(
        f"({p})" for p in
        (cs.update, cs.kept, cs.nms_update, cs.nms_kept, cs.insert)
    )
    return _join(base, km).where(keep).selectExpr(*exprs)


def keyed_merge_inserts(base: DataFrame, km) -> DataFrame:
    """The rows an INSERT-ONLY :class:`KeyedMerge` adds to ``base``:
    source rows no target row matches (one anti join — matched target
    rows stay as they are, so nothing of ``base`` is rewritten) that
    the insert clause takes, projected by the clause onto ``base``'s
    columns and cast to their types, as :func:`interpret_keyed_merge`
    projects inserted rows."""
    cs = _ClauseSql(km)
    return km.source.alias(km.source_alias).join(
        base.alias(km.target_alias), F.expr(km.condition), "left_anti"
    ).where(
        _applies(True, getattr(km, "not_matched_condition", None))
    ).selectExpr(*[
        f"CAST({cs.ins(f.name)} AS {_sql_type(f.dataType)})"
        f" AS {quote_ident(f.name)}"
        for f in base.schema.fields
    ])


def merge_changes(base: DataFrame, km, change_type_col: str = "_change_type") -> DataFrame:
    """Row-level change feed of a :class:`KeyedMerge` over ``base`` —
    Delta Change Data Feed's MERGE semantics: inserted rows appear as
    ``insert``, updated rows as an ``update_preimage``/
    ``update_postimage`` pair, matched-delete rows as ``delete``;
    copied-through rows (kept matched, unmatched target) emit nothing.

    ONE full-outer join (same shape as :func:`interpret_keyed_merge`'s
    phase 2): each joined row projects an ARRAY of change structs —
    empty for copies, two entries for updates — then explodes. Callers
    writing both the merged table AND the change feed should persist
    ``base`` (and the source) so the two joins share their inputs.
    """
    cs = _ClauseSql(km)
    fields = base.schema.fields

    def entry(kind: str, value_for) -> str:
        vals = ", ".join(
            f"{_str(f.name)}, CAST({value_for(f.name)}"
            f" AS {_sql_type(f.dataType)})"
            for f in fields
        )
        return f"named_struct({vals}, {_str(change_type_col)}, {_str(kind)})"

    # the ELSE branch must be an EMPTY array of the same struct type; a
    # zero-length slice of a typed one-entry array names the type
    # without spelling it out
    empty = f"slice(array({entry('insert', cs.pre)}), 1, 0)"
    # build the insert entry only when an insert clause exists — a
    # merge without one (update/delete-only, nms-only) must not
    # dereference the absent clause while constructing a branch that
    # can never fire
    ins = (
        f"array({entry('insert', cs.ins)})"
        if km.not_matched_insert is not None
        else empty
    )
    changes = (
        f"CASE WHEN {cs.update} THEN array("
        f"{entry('update_preimage', cs.pre)},"
        f" {entry('update_postimage', cs.post)})"
        f" WHEN {cs.delete} THEN array({entry('delete', cs.pre)})"
        f" WHEN {cs.nms_update} THEN array("
        f"{entry('update_preimage', cs.pre)},"
        f" {entry('update_postimage', cs.nms_post)})"
        f" WHEN {cs.nms_delete} THEN array({entry('delete', cs.pre)})"
        f" WHEN {cs.insert} THEN {ins}"
        f" ELSE {empty} END"
    )
    return _join(base, km).selectExpr(f"explode({changes}) AS __c").select(
        "__c.*"
    )


# Source column types whose collected Python values are equal exactly
# when Spark's ``=`` says so (NaN aside, which rows_unique checks per
# value). Collated strings, binary, intervals and nested types are out.
def _proof_type(dt) -> bool:
    if isinstance(dt, StringType):
        return dt.collation == "UTF8_BINARY"
    return isinstance(
        dt, (NumericType, BooleanType, DateType, TimestampType,
             TimestampNTZType)
    )


def _attr(e) -> Optional[tuple]:
    """Name parts of a parsed ``UnresolvedAttribute``, else None."""
    if e.nodeName() != "UnresolvedAttribute":
        return None
    parts = e.nameParts()
    return tuple(parts.apply(i) for i in range(parts.length()))


def equi_source_columns(
    km, target_schema: StructType
) -> Optional[Dict[str, bool]]:
    """Source columns of ``km.condition``'s top-level conjuncts of the
    form ``t.x = s.y`` or ``t.x <=> s.y`` (either side first), mapped
    to whether some ``=`` conjunct uses them (a NULL there matches
    nothing). Source rows unique on these columns cannot match one
    target row twice.

    None — the ambiguity probe must run — when there is no such
    conjunct, or when a compared column is missing, is not of a type
    :func:`_proof_type` accepts, or differs in type from the target
    column it is compared with (an implicit cast can make distinct
    source values equal)."""
    t, s = km.target_alias, km.source_alias
    parser = km.source.sparkSession._jsparkSession.sessionState().sqlParser()
    stack = [parser.parseExpression(km.condition)]
    src_types = {f.name: f.dataType for f in km.source.schema.fields}
    tgt_types = {f.name: f.dataType for f in target_schema.fields}
    cols: Dict[str, bool] = {}
    while stack:
        e = stack.pop()
        kind = e.nodeName()
        if kind == "And":
            stack += [e.left(), e.right()]
            continue
        if kind not in ("EqualTo", "EqualNullSafe"):
            continue
        sides = {}
        for a in (_attr(e.left()), _attr(e.right())):
            if a is not None and len(a) == 2:
                sides[a[0]] = a[1]
        if t == s or set(sides) != {t, s}:
            continue
        sdt, tdt = src_types.get(sides[s]), tgt_types.get(sides[t])
        if sdt is None or not _proof_type(sdt) or sdt != tdt:
            return None
        cols[sides[s]] = cols.get(sides[s], False) or kind == "EqualTo"
    return cols or None


def rows_unique(rows: List[tuple], rejects_null: List[bool]) -> bool:
    """Whether ``rows`` (tuples of the :func:`equi_source_columns`
    values, in the order of ``rejects_null``) are pairwise distinct.
    Tuples with a NULL in a column some ``=`` compares match no target
    row and are skipped. A NaN makes the answer False: Spark's ``=``
    holds for NaN = NaN, Python's does not."""
    seen = set()
    for tup in rows:
        if any(v is None and rej for v, rej in zip(tup, rejects_null)):
            continue
        if any(isinstance(v, float) and v != v for v in tup):
            return False
        if tup in seen:
            return False
        seen.add(tup)
    return True
