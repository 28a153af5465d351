"""Round-10 regression tests for the four ADVICE findings:

1. ``convert_from_parquet`` partition inference must match directory
   keys EXACTLY (a data column whose name suffixes a partition column,
   e.g. ``id`` under ``uid=42``, must stay a data column — the
   substring test silently NULLed its values);
2. the ``delta_protocol`` streaming/batch reader must NULL-fill
   columns absent from files committed before a mergeSchema evolution
   (it crashed with KeyError instead);
3. a merge whose distinct source keys overflow ``MERGE_KEY_CAP`` must
   prune against the TRUE min/max envelope (one agg over all keys),
   not the LIMIT-truncated sample's endpoints — wrong pruning silently
   drops matched updates;
4. partition values containing characters Spark URL-escapes in
   directory names (timestamp ':' etc.) must round-trip as REAL values
   through ``partitionValues``, batch reads, and the streaming source.
"""

import os

import pytest
from pyspark.sql import functions as F

from mack_spark.sources import delta_log
from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.streaming.delta_source import register


class TestConvertPartitionInference:
    def test_suffix_named_data_column_stays_data(self, spark, tmp_path):
        src = str(tmp_path / "lake")
        df = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)],
            "id int, uid int, val double",
        )
        df.write.partitionBy("uid").parquet(src)
        t = DeltaProtocolTable.convert_from_parquet(spark, src)
        snap = t.snapshot()
        # 'id' is a SUFFIX of the partition key 'uid' — the substring
        # bug classified it as a partition column and NULLed its data
        assert snap.partition_columns == ["uid"]
        got = sorted(
            map(tuple, t.to_df().select("id", "uid", "val").collect())
        )
        assert got == sorted(map(tuple, df.collect()))
        assert all(r[0] is not None for r in got)

    def test_inference_checks_all_files(self, spark, tmp_path):
        # mixed layout: some files under part=..., some at the root —
        # a files[:1]-only check could see only the root file
        src = str(tmp_path / "mixed")
        os.makedirs(src)
        spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(
            src + "/part=x"
        )
        # inference keys are collected across every file
        keys = {
            seg.partition("=")[0]
            for root, _d, fs in os.walk(src)
            for f in fs
            if f.endswith(".parquet")
            for seg in os.path.relpath(root, src).split(os.sep)
            if "=" in seg
        }
        assert keys == {"part"}
        t = DeltaProtocolTable.convert_from_parquet(spark, src)
        assert t.snapshot().partition_columns == ["part"]


class TestStreamSchemaEvolution:
    def test_stream_null_fills_pre_evolution_files(self, spark, tmp_path):
        register(spark)
        t = DeltaProtocolTable.create(
            spark,
            str(tmp_path / "t"),
            spark.createDataFrame([(1, "a"), (2, "b")], "pkey int, attr string"),
        )
        t.append(
            spark.createDataFrame(
                [(3, "c", 30)], "pkey int, attr string, extra int"
            ),
            merge_schema=True,
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            spark.readStream.format("delta_protocol")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert got == [(1, "a", None), (2, "b", None), (3, "c", 30)]

    def test_non_nullable_frame_column_evolves_nullable(self, spark, tmp_path):
        """mergeSchema with a non-nullable new column (lit(1)) must
        record it NULLABLE in the table schema — history files read it
        as NULL, and a non-nullable schemaString crashes vectorized
        readers on the NULL-fill (found by the r10 verify drive)."""
        register(spark)
        t = DeltaProtocolTable.create(
            spark,
            str(tmp_path / "nn"),
            spark.createDataFrame([(1, "a"), (2, "b")], "pkey int, attr string"),
        )
        t.append(
            spark.createDataFrame([(3, "c")], "pkey int, attr string")
            .withColumn("rank", F.lit(7)),
            merge_schema=True,
        )
        fld = {f.name: f for f in t.snapshot().schema.fields}["rank"]
        assert fld.nullable is True
        out, ckpt = str(tmp_path / "nn_out"), str(tmp_path / "nn_ckpt")
        q = (
            spark.readStream.format("delta_protocol")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert got == [(1, "a", None), (2, "b", None), (3, "c", 7)]

    def test_batch_format_null_fills_too(self, spark, tmp_path):
        register(spark)
        t = DeltaProtocolTable.create(
            spark,
            str(tmp_path / "t2"),
            spark.createDataFrame([(1, "a")], "pkey int, attr string"),
        )
        t.append(
            spark.createDataFrame([(2, "b", 2.5)],
                                  "pkey int, attr string, score double"),
            merge_schema=True,
        )
        got = sorted(
            map(
                tuple,
                spark.read.format("delta_protocol")
                .option("path", t.path)
                .load()
                .collect(),
            )
        )
        assert got == [(1, "a", None), (2, "b", 2.5)]


class TestMergeKeyCapOverflow:
    def test_overflow_uses_true_envelope(self, spark, tmp_path, monkeypatch):
        from mack_spark.tables import KeyedMerge

        monkeypatch.setattr(delta_log, "MERGE_KEY_CAP", 5)
        base = (
            spark.range(100)
            .select(
                F.col("id").cast("int").alias("pkey"),
                F.concat(F.lit("v"), F.col("id")).alias("attr"),
            )
            .repartitionByRange(4, "pkey")
            .sortWithinPartitions("pkey")
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "m"), base)
        assert len(t.snapshot().files) == 4
        # 10 distinct keys (> cap) spanning the whole table; the
        # truncated 6-group sample's min/max need not cover [1, 98],
        # so the buggy envelope could prune files holding real matches
        keys = [1, 12, 23, 34, 45, 56, 67, 78, 89, 98]
        src = spark.createDataFrame(
            [(k, f"NEW{k}") for k in keys], "pkey int, attr string"
        )
        res = t.merge(
            KeyedMerge(
                source=src,
                condition="t.pkey = s.pkey",
                matched_update={"attr": "s.attr"},
                not_matched_insert="*",
                target_key_col="pkey",
                source_key_col="pkey",
            )
        )
        # true envelope [1, 98] overlaps every file
        assert res["touched_files"] == 4
        out = {r["pkey"]: r["attr"] for r in t.to_df().collect()}
        assert len(out) == 100
        for k in keys:
            assert out[k] == f"NEW{k}", f"update for key {k} was dropped"

    def test_rows_over_cap_keys_within_stay_exact(
        self, spark, tmp_path, monkeypatch
    ):
        """More source ROWS than the cap but fewer distinct KEYS: the
        grouped fallback collect still yields the exact key set, so
        pruning touches only the file holding the keys, as it does
        under the default cap."""
        from mack_spark.tables import KeyedMerge

        base = (
            spark.range(100)
            .select(
                (F.col("id") / 4).cast("int").alias("pkey"),
                (F.col("id") % 4).cast("int").alias("b"),
                F.lit("old").alias("attr"),
            )
            .repartitionByRange(4, "pkey")
            .sortWithinPartitions("pkey")
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "rc"), base)
        assert len(t.snapshot().files) == 4
        src = spark.createDataFrame(
            [(k, b, "new") for k in (1, 2, 3) for b in range(3)],
            "pkey int, b int, attr string",
        )

        def km():
            return KeyedMerge(
                source=src,
                condition="t.pkey = s.pkey AND t.b = s.b",
                matched_update={"attr": "s.attr"},
                target_key_col="pkey",
                source_key_col="pkey",
            )

        monkeypatch.setattr(delta_log, "MERGE_KEY_CAP", 5)  # 9 rows, 3 keys
        res = t.merge(km())
        assert res["touched_files"] == 1
        assert t.history()[0]["operationMetrics"]["numSourceRows"] == 9
        got = sorted(
            (r["pkey"], r["b"])
            for r in t.to_df().where("attr = 'new'").collect()
        )
        assert got == [(k, b) for k in (1, 2, 3) for b in range(3)]
        # the same merge under the default cap touches the same file
        monkeypatch.undo()
        assert t.merge(km())["touched_files"] == 1

    def test_overflow_with_timestamp_keys(self, spark, tmp_path, monkeypatch):
        from mack_spark.tables import KeyedMerge

        monkeypatch.setattr(delta_log, "MERGE_KEY_CAP", 3)
        base = spark.range(20).select(
            F.to_timestamp(
                F.concat(F.lit("2021-01-"), F.lpad(F.col("id") + 1, 2, "0"))
            ).alias("ts"),
            F.lit("old").alias("attr"),
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "ts"), base)
        src = spark.range(6).select(
            F.to_timestamp(
                F.concat(F.lit("2021-01-"),
                         F.lpad(F.col("id") * 3 + 1, 2, "0"))
            ).alias("ts"),
            F.lit("new").alias("attr"),
        )
        t.merge(
            KeyedMerge(
                source=src,
                condition="t.ts = s.ts",
                matched_update={"attr": "s.attr"},
                not_matched_insert="*",
                target_key_col="ts",
                source_key_col="ts",
            )
        )
        got = {r["ts"].day: r["attr"] for r in t.to_df().collect()}
        for d in (1, 4, 7, 10, 13, 16):
            assert got[d] == "new"
        assert got[2] == "old" and got[20] == "old"


class TestEscapedPartitionValues:
    def test_timestamp_partition_roundtrip(self, spark, tmp_path):
        register(spark)
        df = spark.createDataFrame(
            [("2021-03-01 06:30:00", 1), ("2021-03-02 18:45:00", 2)],
            "raw string, v int",
        ).select(F.to_timestamp("raw").alias("ts"), "v")
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "p"), df, partition_by=["ts"]
        )
        snap = t.snapshot()
        # partitionValues carry the REAL value, not Spark's %3A escape
        vals = sorted(
            a["partitionValues"]["ts"] for a in snap.files.values()
        )
        assert all(":" in v and "%3A" not in v for v in vals)
        # batch read (basePath discovery path)
        got = sorted((r["ts"].isoformat(), r["v"]) for r in t.to_df().collect())
        assert got == [
            ("2021-03-01T06:30:00", 1),
            ("2021-03-02T18:45:00", 2),
        ]
        # streaming read decodes the stored value, not the escape
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            spark.readStream.format("delta_protocol")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got_s = sorted(
            (r["ts"].isoformat(), r["v"])
            for r in spark.read.parquet(out).collect()
        )
        assert got_s == got
