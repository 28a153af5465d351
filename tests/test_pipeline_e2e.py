"""End-to-end incremental corpus ingestion: the full curation chain
composed over the Delta-protocol table substrate.

Three raw batches (overlapping keys, intra-batch duplicates, quality
failures) flow through quality gating → idempotent keyed append →
mixing → shard export. Verifies the composition properties a 100 TB
pipeline leans on: per-batch idempotency under replay, monotonic
versioned history, and hash-pure downstream decisions that do not
change when the corpus is re-derived.
"""

import pytest
from pyspark.sql import functions as F

from mack_spark.dedup import append_without_duplicates
from mack_spark.operators.mixing import apply_mix, mix_allocation
from mack_spark.operators.quality import gopher_quality_flags
from mack_spark.operators.shard import shard_manifest
from mack_spark.sources.delta_log import DeltaProtocolTable


def _batch(spark, ids, source, good=True):
    rows = []
    for i in ids:
        text = " ".join(["the"] + ["token"] * 24) if good else "tiny doc"
        rows.append((i, text, source))
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


@pytest.fixture()
def corpus(spark, tmp_path):
    path = str(tmp_path / "corpus")
    schema = _batch(spark, [0], "s0").schema
    return DeltaProtocolTable.create(spark, path, spark.createDataFrame([], schema))


def _ingest(table, batch, min_words=20):
    flags = gopher_quality_flags(batch, min_words=min_words)
    good = batch.join(flags.filter("passes").select("doc_id"), "doc_id", "left_semi")
    append_without_duplicates(table, good, ["doc_id"])


class TestIncrementalPipeline:
    def test_three_batches_then_replay(self, spark, corpus):
        b1 = _batch(spark, range(0, 40), "s0")
        b2 = _batch(spark, range(30, 70), "s1")  # 10 keys overlap b1
        bad = _batch(spark, range(70, 80), "s1", good=False)  # fails gate
        b2 = b2.union(bad).union(_batch(spark, [35, 35], "s1"))  # intra dups
        b3 = _batch(spark, range(70, 90), "s0")

        _ingest(corpus, b1)
        assert corpus.to_df().count() == 40
        _ingest(corpus, b2)
        # 30 new keys from b2 (30..69 minus 30..39 already present);
        # the 10 bad docs never enter; the duplicated 35 stays single
        assert corpus.to_df().count() == 70
        _ingest(corpus, b3)
        assert corpus.to_df().count() == 90
        assert corpus.to_df().select("doc_id").distinct().count() == 90

        # replay batch 2 (crash-recovery re-run): byte-for-byte no-op
        before = sorted(map(tuple, corpus.to_df().collect()))
        _ingest(corpus, b2)
        after = sorted(map(tuple, corpus.to_df().collect()))
        assert before == after

        # history advanced once per ingest
        assert corpus.snapshot().version >= 3

    def test_downstream_is_rederivation_stable(self, spark, corpus):
        _ingest(corpus, _batch(spark, range(0, 50), "s0"))
        _ingest(corpus, _batch(spark, range(50, 100), "s1"))

        weights = {"s0": 1.0, "s1": 1.0}
        df = corpus.to_df()
        plan = mix_allocation(df, weights, budget_fraction=0.5)
        kept1 = sorted(
            r["doc_id"] for r in apply_mix(df, plan, ["doc_id"]).collect()
        )
        # rebuild the corpus in a different physical order -> identical
        # mixture and identical shard manifest (hash-pure decisions)
        reordered = df.repartition(13).sortWithinPartitions("source")
        plan2 = mix_allocation(reordered, weights, budget_fraction=0.5)
        kept2 = sorted(
            r["doc_id"] for r in apply_mix(reordered, plan2, ["doc_id"]).collect()
        )
        assert kept1 == kept2 and len(kept1) > 0

        man1 = sorted(map(tuple, shard_manifest(df, ["doc_id"]).collect()))
        man2 = sorted(map(tuple, shard_manifest(reordered, ["doc_id"]).collect()))
        assert man1 == man2
        assert sum(r[1] for r in man1) == 100

    def test_time_travel_sees_each_ingest(self, spark, corpus):
        _ingest(corpus, _batch(spark, range(0, 10), "s0"))
        _ingest(corpus, _batch(spark, range(10, 30), "s1"))
        v_latest = corpus.snapshot().version
        assert corpus.to_df(version_as_of=v_latest - 1).count() == 10
        assert corpus.to_df(version_as_of=v_latest).count() == 30
