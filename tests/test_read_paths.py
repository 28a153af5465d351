"""The protocol table's read paths — ``to_df()``, ``to_df(with_row_ids=
True)``, ``table_changes`` and the file matching behind DELETE/UPDATE —
share one scan builder. These tests pin what every path must agree on:
the same live rows under every column mapping mode, partition layout
and delete style, and the same file identity however Spark spells a
file's path (a space in the table directory or in a partition value is
``%20`` in ``_metadata.file_path``)."""

import json
import os

import pytest

from mack_spark.sources.delta_log import DeltaProtocolTable

RT_CDF = {
    "delta.enableRowTracking": "true",
    "delta.enableChangeDataFeed": "true",
}


def _rows(spark, n=10, part=None):
    return spark.createDataFrame(
        [(i, f"v{i}", part(i) if part else "q") for i in range(n)],
        "id int, v string, p string",
    )


def _ids(df):
    return sorted(r["id"] for r in df.collect())


class TestEncodedPaths:
    """A file whose path Spark URI-encodes must still be recognised as
    the log entry it came from."""

    def test_partition_value_with_space(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "t"),
            _rows(spark, part=lambda i: "a b" if i % 2 else "c"),
            partition_by=["p"], properties=RT_CDF,
        )
        assert _ids(t.to_df()) == list(range(10))
        with_ids = t.to_df(with_row_ids=True).collect()
        assert sorted(r["id"] for r in with_ids) == list(range(10))
        assert len({r["_row_id"] for r in with_ids}) == 10
        changes = t.table_changes(0).collect()
        assert sorted(r["id"] for r in changes) == list(range(10))
        assert {r["p"] for r in changes if r["id"] % 2} == {"a b"}

    def test_table_directory_with_space(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "probe dir" / "t"), _rows(spark),
            properties=RT_CDF,
        )
        assert _ids(t.to_df(with_row_ids=True)) == list(range(10))
        assert _ids(t.table_changes(0)) == list(range(10))

    def test_update_keeps_every_row(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "probe dir" / "t"), _rows(spark),
            properties={"delta.enableRowTracking": "true"},
        )
        t.update_where("id = 3", {"v": "'updated'"})
        # the rewrite must carry every row of the file it replaced
        assert _ids(t.to_df()) == list(range(10))
        after = t.to_df(with_row_ids=True).collect()
        assert sorted(r["_row_id"] for r in after) == list(range(10))
        assert [r["v"] for r in after if r["id"] == 3] == ["updated"]

    def test_file_key_matches_hadoop_path_rendering(self, spark, tmp_path):
        """The file key is Hadoop's ``Path.toUri().toString()``: checked
        against the JVM for characters java.net.URI quotes, keeps, or
        passes through raw."""
        t = DeltaProtocolTable(spark, str(tmp_path))
        path_cls = spark._jvm.org.apache.hadoop.fs.Path
        for name in [
            "a b/p=a b/x.parquet", "50%/x", "h#h/q?q/x", "é ü/日本/x",
            "a+b=c,d;e@f&g$h/x", "t\tab/x", "br[a]{c}^|\\`\"<>/x",
            "nb sp/ctl\u0085/x", "p=2024-01-01 00%3A00/x",
            "~'!*()/x",
        ]:
            full = os.path.join(t.path, name)
            assert t._file_key(name) == (
                "file:" + path_cls(full).toUri().toString()
            ), name


def _mk_matrix_table(spark, path, mode, partitioned, dv):
    """Version 0 written by hand (so a mapped table's physical names
    differ from its logical ones), rows appended through the writer."""
    os.makedirs(os.path.join(path, "_delta_log"))
    fields = []
    for i, (name, ty) in enumerate(
        [("id", "integer"), ("v", "string"), ("p", "string")], 1
    ):
        md = {} if mode == "none" else {
            "delta.columnMapping.id": i,
            "delta.columnMapping.physicalName": f"col-{i}-{name}",
        }
        fields.append(
            {"name": name, "type": ty, "nullable": True, "metadata": md}
        )
    conf = dict(
        RT_CDF,
        **{
            "delta.rowTracking.materializedRowIdColumnName": "_rid-col",
            "delta.rowTracking.materializedRowCommitVersionColumnName":
                "_rcv-col",
            "delta.enableDeletionVectors": "true" if dv else "false",
        },
    )
    if mode != "none":
        conf["delta.columnMapping.mode"] = mode
        conf["delta.columnMapping.maxColumnId"] = "3"
    actions = [
        {"commitInfo": {"timestamp": 0, "operation": "CREATE TABLE"}},
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping", "deletionVectors"],
            "writerFeatures": ["changeDataFeed", "columnMapping",
                               "deletionVectors", "domainMetadata",
                               "rowTracking"],
        }},
        {"metaData": {
            "id": "cccccccc-1111-2222-3333-444444444444",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": ["p"] if partitioned else [],
            "configuration": conf,
            "createdTime": 0,
        }},
    ]
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    t = DeltaProtocolTable(spark, path)
    # one file per partition, so deleting one of its rows keeps a DV
    t.append(
        _rows(spark, n=6, part=lambda i: "x" if i % 2 else "y").coalesce(1)
    )
    return t


@pytest.mark.parametrize("dv", [False, True], ids=["rewrite", "dv"])
@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "part"])
@pytest.mark.parametrize("mode", ["none", "name", "id"])
def test_read_matrix(spark, tmp_path, mode, partitioned, dv):
    """Every read path returns the rows the test wrote, under each
    column mapping mode, with and without partitions, after a delete
    that writes a deletion vector or rewrites the file."""
    t = _mk_matrix_table(spark, str(tmp_path / "t"), mode, partitioned, dv)
    written = {(i, f"v{i}", "x" if i % 2 else "y") for i in range(6)}
    ids_before = {
        r["id"]: r["_row_id"] for r in t.to_df(with_row_ids=True).collect()
    }
    assert sorted(ids_before) == list(range(6))
    t.delete_where("id IN (1, 4)")
    snap = t.snapshot()
    assert any(
        a.get("deletionVector") for a in snap.files.values()
    ) == dv
    live = {r for r in written if r[0] not in (1, 4)}
    assert {tuple(r) for r in t.to_df().collect()} == live
    with_ids = t.to_df(with_row_ids=True).collect()
    assert {(r["id"], r["v"], r["p"]) for r in with_ids} == live
    # surviving rows keep the ids they had before the delete
    assert {r["id"]: r["_row_id"] for r in with_ids} == {
        i: ids_before[i] for i, _v, _p in live
    }
    changes = {
        (r["id"], r["v"], r["p"], r["_change_type"], r["_commit_version"])
        for r in t.table_changes(0).collect()
    }
    assert changes == (
        {(*r, "insert", 1) for r in written}
        | {(*r, "delete", 2) for r in written if r[0] in (1, 4)}
    )
