"""Column mapping round 11: mode ``id`` READS (parquet field-id
resolution — converted-Iceberg tables whose physical column names are
arbitrary) and mode ``name`` WRITES (appends/DELETE/UPDATE rename
logical→physicalName and key partitionValues/stats physically).
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
)


def _write_parquet_with_field_ids(spark, path, rows):
    """Parquet whose columns have ICEBERG-style names (neither the
    logical nor the delta physicalName) but carry field ids — the
    id-mode resolution target."""
    schema = StructType([
        StructField("iceberg_c1", IntegerType(), True,
                    {"parquet.field.id": 1}),
        StructField("iceberg_c2", StringType(), True,
                    {"parquet.field.id": 2}),
    ])
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df = spark.createDataFrame(rows, schema).coalesce(1)
    df.write.mode("append").parquet(path)


def _mk_id_mode(spark, tmp_path):
    path = str(tmp_path / "idmode")
    os.makedirs(os.path.join(path, "_delta_log"))
    _write_parquet_with_field_ids(spark, path, [(1, "x"), (2, "y")])
    adds = [
        {"path": f, "partitionValues": {}, "size": 1,
         "modificationTime": 0, "dataChange": True}
        for f in os.listdir(path) if f.endswith(".parquet")
    ]
    fields = [
        {"name": "k", "type": "integer", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-phys-k"}},
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-phys-v"}},
    ]
    meta = {
        "id": "aaaaaaaa-1111-2222-3333-444444444444",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "id"},
        "createdTime": 0,
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta},
        {"commitInfo": {"timestamp": 0, "operation": "CONVERT"}},
    ] + [{"add": a} for a in adds]
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return DeltaProtocolTable(spark, path)


class TestColumnMappingIdRead:
    def test_id_mode_resolves_by_field_id(self, spark, tmp_path):
        """Physical parquet names are Iceberg-ish and match NEITHER the
        logical names nor physicalName — only the field ids line up.
        The read must resolve by id and surface logical names."""
        t = _mk_id_mode(spark, tmp_path)
        df = t.to_df()
        assert df.columns == ["k", "v"]
        assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]

    def test_id_mode_time_travel_and_filter(self, spark, tmp_path):
        t = _mk_id_mode(spark, tmp_path)
        assert t.to_df().where("k = 2").collect()[0]["v"] == "y"

    def test_id_mode_missing_physical_name_refused(self, spark, tmp_path):
        """id-mode WRITES require BOTH mapping keys per field — a
        foreign schema carrying only the id cannot receive files other
        writers could resolve by name, so the write refuses loudly."""
        t = _mk_id_mode(spark, tmp_path)
        f = os.path.join(t.path, "_delta_log", "%020d.json" % 0)
        acts = [json.loads(x) for x in open(f) if x.strip()]
        for a in acts:
            if "metaData" in a:
                fields = json.loads(a["metaData"]["schemaString"])["fields"]
                for fd in fields:
                    fd["metadata"].pop("delta.columnMapping.physicalName")
                a["metaData"]["schemaString"] = json.dumps(
                    {"type": "struct", "fields": fields}
                )
        with open(f, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in acts) + "\n")
        with pytest.raises(DeltaProtocolError, match="physicalName"):
            t.append(spark.createDataFrame([(9, "q")], "k int, v string"))


def _mk_name_mode_rw(spark, tmp_path, partitioned=False):
    """A name-mode table CREATED as foreign (like delta-spark with
    mapping on), then driven through this writer's mutation paths."""
    path = str(tmp_path / "namerw")
    os.makedirs(os.path.join(path, "_delta_log"))
    phys = {"k": "col-k-uuid", "v": "col-v-uuid", "p": "col-p-uuid"}
    df = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2")],
        f"`{phys['k']}` int, `{phys['v']}` string, `{phys['p']}` string",
    )
    adds = []
    if partitioned:
        df.write.partitionBy(phys["p"]).parquet(path, mode="append")
        for root, _d, fs in os.walk(path):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, f), path)
                seg = os.path.dirname(rel)
                pv = {phys["p"]: seg.split("=", 1)[1]} if "=" in seg else {}
                adds.append({
                    "path": rel.replace(os.sep, "/"), "partitionValues": pv,
                    "size": os.path.getsize(os.path.join(root, f)),
                    "modificationTime": 0, "dataChange": True,
                })
    else:
        df.coalesce(1).write.parquet(path, mode="append")
        adds = [
            {"path": f, "partitionValues": {}, "size": 1,
             "modificationTime": 0, "dataChange": True}
            for f in os.listdir(path) if f.endswith(".parquet")
        ]
    fields = [
        {"name": n, "type": ty, "nullable": True,
         "metadata": {"delta.columnMapping.id": i + 1,
                      "delta.columnMapping.physicalName": phys[n]}}
        for i, (n, ty) in enumerate(
            [("k", "integer"), ("v", "string"), ("p", "string")]
        )
    ]
    meta = {
        "id": "bbbbbbbb-1111-2222-3333-444444444444",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": ["p"] if partitioned else [],
        "configuration": {"delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "3"},
        "createdTime": 0,
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta},
        {"commitInfo": {"timestamp": 0, "operation": "CREATE"}},
    ] + [{"add": a} for a in adds]
    with open(os.path.join(path, "_delta_log", "%020d.json" % 0), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return DeltaProtocolTable(spark, path), phys


class TestColumnMappingNameWrites:
    def test_partitioned_append_physical_partition_values(
        self, spark, tmp_path
    ):
        t, phys = _mk_name_mode_rw(spark, tmp_path, partitioned=True)
        before = set(t.snapshot().files)
        t.append(spark.createDataFrame(
            [(9, "q", "p9")], "k int, v string, p string"
        ))
        snap = t.snapshot()
        [new_rel] = [p for p in snap.files if p not in before]
        # partitionValues keyed by PHYSICAL name, directory too
        pv = snap.files[new_rel]["partitionValues"]
        assert pv == {phys["p"]: "p9"}
        assert new_rel.startswith(f"{phys['p']}=p9/")
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [
            (1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2"), (9, "q", "p9"),
        ]

    def test_field_ids_written_to_new_files(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t, phys = _mk_name_mode_rw(spark, tmp_path)
        before = set(t.snapshot().files)
        t.append(spark.createDataFrame(
            [(9, "q", "p9")], "k int, v string, p string"
        ))
        [new_rel] = [p for p in t.snapshot().files if p not in before]
        sch = pq.read_schema(os.path.join(t.path, new_rel))
        fld = sch.field(phys["k"])
        assert fld.metadata and b"PARQUET:field_id" in fld.metadata

    def test_delete_update_on_mapped_table(self, spark, tmp_path):
        t, phys = _mk_name_mode_rw(spark, tmp_path)
        t.delete_where("k = 1")
        t.update_where("k = 2", {"v": "'updated'"})
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [(2, "updated", "p1"), (3, "z", "p2")]

    def test_stats_physical_keyed_and_merge_prunes(self, spark, tmp_path):
        from mack_spark.tables import KeyedMerge

        t, phys = _mk_name_mode_rw(spark, tmp_path)
        t.append(spark.createDataFrame(
            [(100, "hi", "p3"), (101, "hj", "p3")],
            "k int, v string, p string",
        ).coalesce(1))
        t.append(spark.createDataFrame(
            [(200, "far", "p4"), (201, "faw", "p4")],
            "k int, v string, p string",
        ).coalesce(1))
        snap = t.snapshot()
        # new files carry physical-keyed stats
        stats = [
            json.loads(a["stats"]) for a in snap.files.values()
            if a.get("stats")
        ]
        assert any(
            phys["k"] in (s.get("minValues") or {}) for s in stats
        )
        # a keyed merge on the LOGICAL key prunes via physical stats:
        # key 100 touches the foreign v0 file (no stats — never
        # prunable) and the [100,101] file, but NOT the [200,201] one
        src = spark.createDataFrame([(100, "merged", "p3")],
                                    "k int, v string, p string")
        res = t.merge(KeyedMerge(
            source=src, condition="t.k = s.k",
            matched_update={"v": "s.v"},
            target_key_col="k", source_key_col="k",
        ))
        assert res["touched_files"] == 2, res
        rows = {r["k"]: r["v"] for r in t.to_df().collect()}
        assert rows[100] == "merged" and rows[101] == "hj"
        assert rows[200] == "far"

    def test_optimize_groups_by_physical_partition_values(
        self, spark, tmp_path
    ):
        """OPTIMIZE reads a mapped table's physical-keyed
        partitionValues: ``WHERE`` scopes by the logical partition
        column, and compaction stays partition-local."""
        t, phys = _mk_name_mode_rw(spark, tmp_path, partitioned=True)
        for p in ("p1", "p2"):
            t.append(spark.createDataFrame(
                [(10, "a", p)], "k int, v string, p string"
            ).coalesce(1))
        before = t.snapshot().files
        in_p1 = {
            p for p, a in before.items()
            if a["partitionValues"] == {phys["p"]: "p1"}
        }
        assert len(in_p1) >= 2
        res = t.optimize(where="p = 'p1'")
        assert res["rewritten"] == len(in_p1)
        after = t.snapshot().files
        assert set(before) - in_p1 <= set(after)
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2"),
            (10, "a", "p1"), (10, "a", "p2"),
        ]

    def test_dv_writes_on_mapped_table(self, spark, tmp_path):
        """Deletion vectors compose with name-mode writes: enabling DVs
        on a mapped table makes deletes bitmap-only."""
        t, phys = _mk_name_mode_rw(spark, tmp_path)
        t.set_properties({"delta.enableDeletionVectors": "true"})
        sig = {
            p: os.stat(os.path.join(t.path, p)).st_mtime_ns
            for p in t.snapshot().files
        }
        res = t.delete_where("k = 1")
        assert res["rewritten_files"] == 0
        assert {
            p: os.stat(os.path.join(t.path, p)).st_mtime_ns
            for p in t.snapshot().files
        } == sig
        got = sorted(map(tuple, t.to_df().collect()))
        assert got == [(2, "y", "p1"), (3, "z", "p2")]


class TestColumnMappingIdWrites:
    """Round 12: id-mode tables are READ-WRITE. New files are written
    physicalName-keyed AND field-id tagged, so both resolution modes
    work; the pre-existing foreign files (arbitrary Iceberg-style
    parquet names) keep resolving by id."""

    def test_append_roundtrip_and_file_layout(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = _mk_id_mode(spark, tmp_path)
        t.append(spark.createDataFrame([(3, "z")], "k int, v string"))
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "x"), (2, "y"), (3, "z"),
        ]
        new = [p for p in t.snapshot().files
               if p not in {a["path"] for a in
                            DeltaProtocolTable(spark, t.path)
                            .snapshot(version_as_of=0).files.values()}]
        assert len(new) >= 1
        sch = pq.ParquetFile(os.path.join(t.path, new[0])).schema_arrow
        assert set(sch.names) == {"col-phys-k", "col-phys-v"}
        assert sch.field("col-phys-k").metadata.get(
            b"PARQUET:field_id"
        ) == b"1"

    def test_delete_update_on_id_mode(self, spark, tmp_path):
        t = _mk_id_mode(spark, tmp_path)
        t.append(spark.createDataFrame([(3, "z"), (4, "w")],
                                       "k int, v string"))
        t.delete_where("k = 1")
        t.update_where("k = 4", {"v": "'updated'"})
        assert sorted(map(tuple, t.to_df().collect())) == [
            (2, "y"), (3, "z"), (4, "updated"),
        ]

    def test_dv_delete_on_id_mode_foreign_file(self, spark, tmp_path):
        """DV marks positions in the ORIGINAL foreign file (iceberg
        parquet names) — the DV'd scan must resolve by field id."""
        t = _mk_id_mode(spark, tmp_path)
        t.set_properties({"delta.enableDeletionVectors": "true"})
        res = t.delete_where("k = 1")
        assert sorted(map(tuple, t.to_df().collect())) == [(2, "y")]
        snap = t.snapshot()
        dv_adds = [a for a in snap.files.values()
                   if a.get("deletionVector")]
        assert dv_adds, "delete must have used a deletion vector"
        # second delete unions into the same file's DV
        t.append(spark.createDataFrame([(5, "q")], "k int, v string"))
        t.delete_where("k = 2")
        assert sorted(map(tuple, t.to_df().collect())) == [(5, "q")]


class TestGeneratedColumnsOnMappedTables:
    def _mk_gen_mapped(self, spark, tmp_path):
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "genmap"),
            spark.createDataFrame([(1, "a", 2)],
                                  "pkey int, attr string, val int"),
        )
        snap = t.snapshot()
        sj = json.loads(snap.metadata["schemaString"])
        sj["fields"][2]["metadata"] = {
            "delta.generationExpression": "pkey * 2"
        }
        t._commit(1, [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {"metaData": dict(snap.metadata,
                              schemaString=json.dumps(sj))},
        ], snap=snap)
        t.enable_column_mapping()
        t.rename_column("attr", "label")
        return t

    def test_omitted_generated_computed_on_mapped(self, spark, tmp_path):
        t = self._mk_gen_mapped(spark, tmp_path)
        t.append(spark.createDataFrame([(2, "b")], "pkey int, label string"))
        assert sorted(map(tuple, t.to_df().collect())) == [
            (1, "a", 2), (2, "b", 4),
        ]

    def test_provided_wrong_refused_on_mapped(self, spark, tmp_path):
        t = self._mk_gen_mapped(spark, tmp_path)
        with pytest.raises(DeltaProtocolError, match="generated column"):
            t.append(spark.createDataFrame(
                [(3, "c", 99)], "pkey int, label string, val int"
            ))
        assert t.to_df().count() == 1

    def test_update_recomputes_generated_on_mapped(self, spark, tmp_path):
        t = self._mk_gen_mapped(spark, tmp_path)
        t.update_where("pkey = 1", {"pkey": "10"})
        assert sorted(map(tuple, t.to_df().collect())) == [(10, "a", 20)]
