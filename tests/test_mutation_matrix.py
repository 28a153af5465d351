"""DELETE, UPDATE, replaceWhere and MERGE (upsert and insert-only), with
and without deletion vectors, on one small table carrying every
feature the shared write bodies have to honour: row tracking, the
change data feed, a generated column, a CHECK constraint and an
identity column. Each case checks the table's rows, the row ids and
commit versions of surviving, updated and inserted rows, the identity
values and high-water mark, the change feed of the operation's commit,
and that a write the CHECK constraint refuses leaves no file behind."""

import json
import os
import shutil

import pytest
from pyspark.sql.types import IntegerType, StructField, StructType

from mack_spark.sources.delta_log import DeltaProtocolError, DeltaProtocolTable
from mack_spark.tables import KeyedMerge

MATCH = "pkey % 4 = 1"
SOURCE = "pkey int, v int, v2 int"


def _mk(spark, path, dv):
    schema = StructType([
        StructField("pkey", IntegerType()),
        StructField("v", IntegerType()),
        StructField(
            "v2", IntegerType(),
            metadata={"delta.generationExpression": "v * 2"},
        ),
    ])
    df = spark.createDataFrame(
        [(i, i, 2 * i) for i in range(12)], schema
    ).repartition(3)
    props = {
        "delta.enableRowTracking": "true",
        "delta.enableChangeDataFeed": "true",
        "delta.constraints.v_nonneg": "v >= 0",
        "delta.enableDeletionVectors": str(dv).lower(),
    }
    return DeltaProtocolTable.create(
        spark, path, df, properties=props, identity={"id": {}}
    )


@pytest.fixture(scope="module")
def base_tables(spark, tmp_path_factory):
    """One freshly created table per DV mode, with its rows (and row
    ids) by key; each case mutates a copy."""
    root = tmp_path_factory.mktemp("matrix")
    out = {}
    for dv in (False, True):
        t = _mk(spark, str(root / str(dv)), dv)
        rows = t.to_df(with_row_ids=True).collect()
        out[dv] = t.path, {r["pkey"]: r for r in rows}
    return out


def _files(t):
    """Every data and deletion-vector file under the table root."""
    return {
        os.path.join(root, f)
        for root, _dirs, names in os.walk(t.path)
        if "_delta_log" not in root
        for f in names
    }


def _hwm(t):
    fields = json.loads(t.snapshot().metadata["schemaString"])["fields"]
    (md,) = [f["metadata"] for f in fields if f["name"] == "id"]
    return md["delta.identity.highWaterMark"]


def _merge(t, spark, rows, **clauses):
    return t.merge(KeyedMerge(
        source=spark.createDataFrame(rows, SOURCE),
        condition="t.pkey = s.pkey",
        target_key_col="pkey", source_key_col="pkey", **clauses,
    ))


def _refused(t, write):
    files = _files(t)
    with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
        write()
    assert _files(t) == files


@pytest.mark.parametrize("dv", [False, True], ids=["rewrite", "dv"])
@pytest.mark.parametrize("op", [
    "delete_where", "update_where", "replace_where", "upsert_merge",
    "insert_merge",
])
def test_mutation_matrix(spark, tmp_path, base_tables, op, dv):
    path, before = base_tables[dv]
    shutil.copytree(path, str(tmp_path / "t"))
    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    assert sorted(r["id"] for r in before.values()) == list(range(1, 13))
    hit = {k for k in before if k % 4 == 1}
    want = {k: (k, 2 * k) for k in before}
    changed = set()  # old rows the operation rewrites
    if op == "delete_where":
        t.delete_where(MATCH)
        for k in hit:
            del want[k]
        feed = [(k, k, 2 * k, "delete") for k in hit]
    elif op == "update_where":
        _refused(t, lambda: t.update_where(MATCH, {"v": "-1"}))
        t.update_where(MATCH, {"v": "v + 100"})
        # the generated column follows the assigned value
        want.update({k: (k + 100, 2 * (k + 100)) for k in hit})
        changed = hit
        feed = [(k, k, 2 * k, "update_preimage") for k in hit] + [
            (k, k + 100, 2 * (k + 100), "update_postimage") for k in hit
        ]
    elif op == "replace_where":
        _refused(t, lambda: t.overwrite(
            spark.createDataFrame([(101, -1)], "pkey int, v int"),
            replace_where=MATCH,
        ))
        t.overwrite(
            spark.createDataFrame([(101, 7), (105, 9)], "pkey int, v int"),
            replace_where=MATCH,
        )
        for k in hit:
            del want[k]
        want.update({101: (7, 14), 105: (9, 18)})
        feed = [(k, k, 2 * k, "delete") for k in hit] + [
            (101, 7, 14, "insert"), (105, 9, 18, "insert"),
        ]
    elif op == "upsert_merge":
        upsert = {
            "matched_update": {"v": "s.v", "v2": "s.v2"},
            "not_matched_insert": "*",
        }
        _refused(t, lambda: _merge(t, spark, [(1, -1, -2)], **upsert))
        _merge(
            t, spark, [(1, 101, 202), (5, 105, 210), (100, 7, 14),
                       (104, 8, 16)],
            **upsert,
        )
        want.update({1: (101, 202), 5: (105, 210), 100: (7, 14),
                     104: (8, 16)})
        changed = {1, 5}
        feed = [
            (1, 1, 2, "update_preimage"), (1, 101, 202, "update_postimage"),
            (5, 5, 10, "update_preimage"), (5, 105, 210, "update_postimage"),
            (100, 7, 14, "insert"), (104, 8, 16, "insert"),
        ]
    else:
        _refused(t, lambda: _merge(
            t, spark, [(100, -1, -2)], not_matched_insert="*",
        ))
        _merge(
            t, spark, [(1, 50, 100), (100, 7, 14), (104, 8, 16)],
            not_matched_insert="*",
        )
        want.update({100: (7, 14), 104: (8, 16)})
        feed = [(100, 7, 14, "insert"), (104, 8, 16, "insert")]
    v = t.snapshot().version
    assert v == 1
    after = {r["pkey"]: r for r in t.to_df(with_row_ids=True).collect()}
    assert {k: (r["v"], r["v2"]) for k, r in after.items()} == want
    new = set(after) - set(before)
    old_ids = {r["_row_id"] for r in before.values()}
    for k, r in after.items():
        if k in new:
            assert r["_row_id"] not in old_ids, k
        else:
            assert r["_row_id"] == before[k]["_row_id"], k
            assert r["id"] == before[k]["id"], k
        assert r["_row_commit_version"] == (
            v if k in new | changed else 0
        ), k
    assert len({r["_row_id"] for r in after.values()}) == len(after)
    # inserted rows take the next identity values, and the high-water
    # mark moves with them
    assert sorted(after[k]["id"] for k in new) == list(
        range(13, 13 + len(new))
    )
    assert _hwm(t) == 12 + len(new)
    ids = {k: r["id"] for k, r in {**before, **after}.items()}
    changes = [
        (r["pkey"], r["v"], r["v2"], r["id"], r["_change_type"])
        for r in t.table_changes(v, v).collect()
    ]
    assert sorted(changes) == sorted(
        (k, a, b, ids[k], kind) for k, a, b, kind in feed
    )
    # deletion vectors: DELETE, UPDATE and replaceWhere's delete half
    # mark rows in DVs on a DV table; MERGE rewrites files
    assert any(
        a["add"].get("deletionVector")
        for a in t._commit_actions(v) if "add" in a
    ) == (dv and op in ("delete_where", "update_where", "replace_where"))
