"""Round-13: Structured-Streaming SINK for open-protocol Delta tables
(``writeStream.format("delta_protocol")``) with Delta's exactly-once
contract: executors write uuid-named parquet directly under the table
root (unreferenced = invisible), the driver commits ONE log version
per microbatch carrying the adds plus a SetTransaction
``{appId, version: batchId}``, and a replayed batch after restart is a
no-op (staged duplicates dropped, nothing recommitted). Constraints
and generated columns enforce at commit over just the staged files
(partition values attach as typed literals). Partitioned targets work
(tasks split batches by partition values). r14: identity targets
generate ids via a commit-time rewrite through the append path;
column-mapped targets write physical names + field ids executor-side.
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from mack_spark.sources.delta_log import (
    DeltaProtocolError,
    DeltaProtocolTable,
)
from mack_spark.streaming.delta_source import (
    DeltaProtocolStreamWriter,
    _SinkFileMessage,
    register,
)

SCHEMA = "pkey int, attr string"


def _mk(spark, tmp_path, name, df=None, **kw):
    if df is None:
        df = spark.createDataFrame([], SCHEMA)
    return DeltaProtocolTable.create(
        spark, str(tmp_path / name), df, **kw
    )


def _run_stream(spark, src_path, dst_path, ckpt):
    register(spark)
    sq = (
        spark.readStream.format("delta_protocol")
        .option("path", src_path).load()
        .writeStream.format("delta_protocol")
        .option("path", dst_path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()


class TestSinkEndToEnd:
    def test_protocol_to_protocol_stream(self, spark, tmp_path):
        src = _mk(spark, tmp_path, "src", spark.createDataFrame(
            [(i, f"r{i}") for i in range(40)], SCHEMA
        ))
        src.append(spark.createDataFrame(
            [(i, "b") for i in range(40, 60)], SCHEMA
        ))
        dst = _mk(spark, tmp_path, "dst")
        _run_stream(spark, src.path, dst.path, str(tmp_path / "ck"))
        assert sorted(
            r["pkey"] for r in dst.to_df().collect()
        ) == list(range(60))
        snap = dst.snapshot()
        # one SetTransaction per query, watermarked at the last batch
        assert len(snap.txns) == 1
        assert dst.history()[0]["operation"] == "STREAMING UPDATE"

    def test_restart_resumes_without_duplicates(self, spark, tmp_path):
        src = _mk(spark, tmp_path, "src", spark.createDataFrame(
            [(i, "a") for i in range(30)], SCHEMA
        ))
        dst = _mk(spark, tmp_path, "dst")
        ck = str(tmp_path / "ck")
        _run_stream(spark, src.path, dst.path, ck)
        assert dst.to_df().count() == 30
        src.append(spark.createDataFrame(
            [(i, "b") for i in range(30, 45)], SCHEMA
        ))
        _run_stream(spark, src.path, dst.path, ck)
        got = sorted(r["pkey"] for r in dst.to_df().collect())
        assert got == list(range(45))  # no dup, no loss

    def test_row_tracked_target_gets_base_row_ids(self, spark, tmp_path):
        src = _mk(spark, tmp_path, "src", spark.createDataFrame(
            [(i, "a") for i in range(10)], SCHEMA
        ))
        dst = _mk(spark, tmp_path, "dst",
                  properties={"delta.enableRowTracking": "true"})
        _run_stream(spark, src.path, dst.path, str(tmp_path / "ck"))
        ids = sorted(
            r["_row_id"]
            for r in dst.to_df(with_row_ids=True).collect()
        )
        assert ids == list(range(10))


class TestSinkExactlyOnce:
    def _writer(self, dst, app="app-1"):
        return DeltaProtocolStreamWriter(
            dst.snapshot().schema,
            {"path": dst.path, "txnappid": app},
            False,
        )

    def _staged(self, dst, n=1):
        import pyarrow as pa
        import pyarrow.parquet as pq

        msgs = []
        for i in range(n):
            f = f"part-{uuid.uuid4().hex}-stream.snappy.parquet"
            pq.write_table(
                pa.table({
                    "pkey": pa.array([900 + i], pa.int32()),
                    "attr": pa.array(["x"]),
                }),
                os.path.join(dst.path, f),
            )
            msgs.append(_SinkFileMessage([{
                "rel_path": f,
                "size": os.path.getsize(os.path.join(dst.path, f)),
                "stats": '{"numRecords":1,"minValues":{},'
                         '"maxValues":{},"nullCount":{}}',
                "partitionValues": {},
            }]))
        return msgs

    def test_commit_then_replay_is_noop(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst", spark.createDataFrame(
            [(0, "z")], SCHEMA
        ))
        w = self._writer(dst)
        w.commit(self._staged(dst), 7)
        v = dst.snapshot().version
        assert dst.to_df().count() == 2
        # replay of batch 7 (and anything older) commits NOTHING and
        # deletes the staged duplicates
        dup = self._staged(dst)
        w.commit(dup, 7)
        w.commit(self._staged(dst), 3)
        assert dst.snapshot().version == v
        assert dst.to_df().count() == 2
        assert not os.path.exists(
            os.path.join(dst.path, dup[0].entries[0]["rel_path"])
        )

    def test_empty_batch_advances_watermark(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst")
        w = self._writer(dst)
        w.commit([_SinkFileMessage()], 0)
        assert dst.snapshot().txns["app-1"] == 0
        w.commit(self._staged(dst), 1)
        assert dst.to_df().count() == 1

    def test_abort_drops_staged(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst")
        w = self._writer(dst)
        msgs = self._staged(dst, n=2)
        w.abort(msgs, 0)
        for m in msgs:
            assert not os.path.exists(
                os.path.join(dst.path, m.entries[0]["rel_path"])
            )
        assert dst.to_df().count() == 0

    def test_concurrent_append_retries(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst", spark.createDataFrame(
            [(0, "z")], SCHEMA
        ))
        w = self._writer(dst)
        # interleave a blind append between the writer's snapshot and
        # its commit by pre-writing the next version file — the sink
        # must re-snapshot and land on the version after it
        dst.append(spark.createDataFrame([(1, "y")], SCHEMA))
        w.commit(self._staged(dst), 0)
        assert dst.to_df().count() == 3


class TestSinkGuards:
    def test_constraint_enforced_at_commit(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst", spark.createDataFrame(
            [(1, "a")], SCHEMA
        ))
        dst.add_constraint("pk_small", "pkey < 500")
        w = DeltaProtocolStreamWriter(
            dst.snapshot().schema,
            {"path": dst.path, "txnappid": "a"},
            False,
        )

        import pyarrow as pa
        import pyarrow.parquet as pq

        f = f"part-{uuid.uuid4().hex}-stream.snappy.parquet"
        pq.write_table(
            pa.table({"pkey": pa.array([900], pa.int32()),
                      "attr": pa.array(["x"])}),
            os.path.join(dst.path, f),
        )
        msg = _SinkFileMessage([{
            "rel_path": f,
            "size": os.path.getsize(os.path.join(dst.path, f)),
            "stats": '{"numRecords":1,"minValues":{},"maxValues":{},'
                     '"nullCount":{}}',
            "partitionValues": {},
        }])
        with pytest.raises(Exception, match="pk_small"):
            w.commit([msg], 0)
        # nothing committed
        assert dst.to_df().count() == 1

    def test_explicit_identity_in_stream_refused(self, spark, tmp_path):
        # identity values are writer-assigned: a stream CARRYING the
        # identity column is refused; a stream without it generates
        # (TestSinkIdentityAndMapped)
        dst = _mk(spark, tmp_path, "dst",
                  identity={"rid": {"start": 1, "step": 1}})
        with pytest.raises(DeltaProtocolError, match="identity"):
            DeltaProtocolStreamWriter(
                DeltaProtocolTable(spark, dst.path).snapshot().schema,
                {"path": dst.path, "txnappid": "a"}, False,
            )

    def test_partitioned_target_streams(self, spark, tmp_path):
        """r13 follow-up: partitioned targets work — tasks split
        batches by partition values, files exclude the partition
        columns, adds record partitionValues, the reader attaches
        typed literals."""
        import pyarrow.parquet as pq

        src_df = spark.createDataFrame(
            [(i, f"r{i}", "even" if i % 2 == 0 else "odd")
             for i in range(20)],
            "pkey int, attr string, par string",
        )
        src = DeltaProtocolTable.create(
            spark, str(tmp_path / "psrc"), src_df,
        )
        dst = DeltaProtocolTable.create(
            spark, str(tmp_path / "pdst"), src_df.limit(0),
            partition_by=["par"],
        )
        _run_stream(spark, src.path, dst.path, str(tmp_path / "pck"))
        got = sorted(map(tuple, dst.to_df().collect()))
        assert got == sorted(map(tuple, src_df.collect()))
        snap = dst.snapshot()
        for p, a in snap.files.items():
            if not a.get("dataChange", True):
                continue
            pv = a.get("partitionValues") or {}
            if "stream" not in p:
                continue  # the empty CTAS placeholder, if any
            assert pv.get("par") in ("even", "odd")
            cols = set(pq.read_schema(
                os.path.join(dst.path, p)
            ).names)
            assert "par" not in cols  # spec: files exclude partition cols
        # partition-scoped OPTIMIZE composes with sink-written files
        res = dst.optimize(target_file_bytes=1 << 20,
                           where="par = 'even'")
        assert res["rewritten"] > 0
        assert sorted(map(tuple, dst.to_df().collect())) == got

    def test_schema_mismatch_refused(self, spark, tmp_path):
        from pyspark.sql.types import (
            IntegerType,
            StructField,
            StructType,
        )

        dst = _mk(spark, tmp_path, "dst")
        wrong = StructType([StructField("other", IntegerType(), True)])
        with pytest.raises(DeltaProtocolError, match="schema"):
            DeltaProtocolStreamWriter(
                wrong, {"path": dst.path, "txnappid": "a"}, False,
            )

    def test_overwrite_mode_refused(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst")
        with pytest.raises(ValueError, match="APPEND"):
            DeltaProtocolStreamWriter(
                dst.snapshot().schema,
                {"path": dst.path, "txnappid": "a"}, True,
            )

    def test_missing_app_id_refused(self, spark, tmp_path):
        dst = _mk(spark, tmp_path, "dst")
        with pytest.raises(ValueError, match="txnAppId"):
            DeltaProtocolStreamWriter(
                dst.snapshot().schema, {"path": dst.path}, False,
            )


class TestSinkIdentityAndMapped:
    """r14: identity targets generate gap-free ids at commit (the
    staged batch rewrites through the append path — ids + hwm +
    SetTransaction in ONE commit); column-mapped targets write
    physical names + parquet field ids executor-side, no rewrite."""

    def test_identity_generation_end_to_end(self, spark, tmp_path):
        src = _mk(spark, tmp_path, "src", spark.createDataFrame(
            [(i, f"r{i}") for i in range(25)], SCHEMA
        ))
        dst = DeltaProtocolTable.create(
            spark, str(tmp_path / "dst"),
            spark.createDataFrame([], SCHEMA),
            identity={"rid": {"start": 1, "step": 1}},
        )
        ck = str(tmp_path / "ck")
        _run_stream(spark, src.path, dst.path, ck)
        rows = dst.to_df().collect()
        assert sorted(r["rid"] for r in rows) == list(range(1, 26))
        assert sorted(r["pkey"] for r in rows) == list(range(25))
        # second run continues past the synced high-water mark
        src.append(spark.createDataFrame(
            [(i, "b") for i in range(25, 40)], SCHEMA
        ))
        _run_stream(spark, src.path, dst.path, ck)
        rows = dst.to_df().collect()
        assert sorted(r["rid"] for r in rows) == list(range(1, 41))
        # exactly-once: the watermark advanced under the sink's appId
        assert len(dst.snapshot().txns) == 1
        # no orphaned staging files (drop happens after commit)
        staged = [
            f for f in os.listdir(dst.path)
            if f.endswith("-stream-staged.snappy.parquet")
        ]
        assert staged == []

    def test_identity_replay_is_noop(self, spark, tmp_path):
        dst = DeltaProtocolTable.create(
            spark, str(tmp_path / "dst"),
            spark.createDataFrame([(0, "z")], SCHEMA),
            identity={"rid": {"start": 1, "step": 1}},
        )
        import pyarrow as pa
        import pyarrow.parquet as pq

        w = DeltaProtocolStreamWriter(
            spark.createDataFrame([], SCHEMA).schema,
            {"path": dst.path, "txnappid": "app-id"}, False,
        )

        def _stage():
            f = f"part-{uuid.uuid4().hex}-stream-staged.snappy.parquet"
            pq.write_table(
                pa.table({"pkey": pa.array([7], pa.int32()),
                          "attr": pa.array(["x"])}),
                os.path.join(dst.path, f),
            )
            return _SinkFileMessage([{
                "rel_path": f,
                "size": os.path.getsize(os.path.join(dst.path, f)),
                "stats": "{}", "partitionValues": {},
            }])

        w.commit([_stage()], 0)
        assert dst.to_df().count() == 2
        ids0 = sorted(r["rid"] for r in dst.to_df().collect())
        # replay of batch 0: staged dropped, nothing recommitted,
        # no ids consumed
        w.commit([_stage()], 0)
        assert dst.to_df().count() == 2
        assert sorted(r["rid"] for r in dst.to_df().collect()) == ids0
        w.commit([_stage()], 1)
        assert dst.to_df().count() == 3

    def test_mapped_target_stream(self, spark, tmp_path):
        import pyarrow.parquet as pq

        src = _mk(spark, tmp_path, "src", spark.createDataFrame(
            [(i, f"r{i}") for i in range(15)], SCHEMA
        ))
        dst = _mk(spark, tmp_path, "dst", spark.createDataFrame(
            [(999, "seed")], "pkey0 int, attr string"
        ))
        dst.enable_column_mapping()
        # rename forces logical != physical (enable keeps old names)
        dst.rename_column("pkey0", "pkey")
        _run_stream(spark, src.path, dst.path, str(tmp_path / "ck"))
        got = sorted(r["pkey"] for r in dst.to_df().collect())
        assert got == list(range(15)) + [999]
        snap = dst.snapshot()
        phys = snap.physical_names()
        assert phys["pkey"] == "pkey0"  # mapping actually diverges
        for p in snap.files:
            if "stream" not in p:
                continue
            sch = pq.read_schema(os.path.join(dst.path, p))
            assert set(sch.names) == {phys["pkey"], phys["attr"]}
            # field ids stamped for id-mode readers
            fld = sch.field(phys["pkey"])
            assert fld.metadata and b"PARQUET:field_id" in fld.metadata

    def test_mapped_partitioned_target_stream(self, spark, tmp_path):
        src_df = spark.createDataFrame(
            [(i, f"r{i}", "even" if i % 2 == 0 else "odd")
             for i in range(12)],
            "pkey int, attr string, par string",
        )
        src = DeltaProtocolTable.create(
            spark, str(tmp_path / "mpsrc"), src_df,
        )
        dst = DeltaProtocolTable.create(
            spark, str(tmp_path / "mpdst"), src_df.limit(0),
            partition_by=["par"],
        )
        dst.enable_column_mapping()
        _run_stream(spark, src.path, dst.path, str(tmp_path / "mpck"))
        got = sorted(map(tuple, dst.to_df().collect()))
        assert got == sorted(map(tuple, src_df.collect()))
        snap = dst.snapshot()
        ppar = snap.physical_names()["par"]
        for p, a in snap.files.items():
            if "stream" not in p:
                continue
            pv = a.get("partitionValues") or {}
            assert pv.get(ppar) in ("even", "odd")  # physical-keyed

    def test_identity_mapped_combined(self, spark, tmp_path):
        src = _mk(spark, tmp_path, "src", spark.createDataFrame(
            [(i, "a") for i in range(8)], SCHEMA
        ))
        dst = DeltaProtocolTable.create(
            spark, str(tmp_path / "dst"),
            spark.createDataFrame([], SCHEMA),
            identity={"rid": {"start": 10, "step": 2}},
        )
        dst.enable_column_mapping()
        _run_stream(spark, src.path, dst.path, str(tmp_path / "ck"))
        rows = dst.to_df().collect()
        assert sorted(r["rid"] for r in rows) == list(range(10, 26, 2))
