"""DELETE and UPDATE, with and without deletion vectors, on one small
table carrying every feature the shared mutation body has to honour:
row tracking, the change data feed, a generated column and a CHECK
constraint. Each case checks the table's rows, the row ids and commit
versions of surviving and updated rows, and the change feed of the
mutation's commit."""

import os

import pytest
from pyspark.sql.types import IntegerType, StructField, StructType

from mack_spark.sources.delta_log import DeltaProtocolError, DeltaProtocolTable

MATCH = "pkey % 4 = 1"


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
    return DeltaProtocolTable.create(spark, path, df, properties=props)


@pytest.mark.parametrize("dv", [False, True], ids=["rewrite", "dv"])
@pytest.mark.parametrize("op", ["delete_where", "update_where"])
def test_mutation_matrix(spark, tmp_path, op, dv):
    t = _mk(spark, str(tmp_path / "t"), dv)
    before = {r["pkey"]: r for r in t.to_df(with_row_ids=True).collect()}
    hit = {k for k in before if k % 4 == 1}
    if op == "delete_where":
        res = t.delete_where(MATCH)
        want = {k: (k, 2 * k) for k in before if k not in hit}
        feed = [(k, k, 2 * k, "delete") for k in hit]
    else:
        with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
            t.update_where(MATCH, {"v": "-1"})
        # refused before any file was written
        assert not any(
            f.startswith("deletion_vector") for f in os.listdir(t.path)
        )
        res = t.update_where(MATCH, {"v": "v + 100"})
        # the generated column follows the assigned value
        want = {
            k: (k + 100, 2 * (k + 100)) if k in hit else (k, 2 * k)
            for k in before
        }
        feed = [(k, k, 2 * k, "update_preimage") for k in hit] + [
            (k, k + 100, 2 * (k + 100), "update_postimage") for k in hit
        ]
    v = res["version"]
    assert v == 1 and res["touched_files"] > 0
    assert ("deletion_vectors" in res) == dv
    after = {r["pkey"]: r for r in t.to_df(with_row_ids=True).collect()}
    assert {k: (r["v"], r["v2"]) for k, r in after.items()} == want
    for k, r in after.items():
        assert r["_row_id"] == before[k]["_row_id"], k
        assert r["_row_commit_version"] == (v if k in hit else 0), k
    changes = [
        (r["pkey"], r["v"], r["v2"], r["_change_type"])
        for r in t.table_changes(v, v).collect()
    ]
    assert sorted(changes) == sorted(feed)
