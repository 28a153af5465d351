"""Persisted banded-MinHash index: build_lsh_index / lsh_pairs_against_index."""

import random

from pyspark.sql import functions as F

from mack_spark.operators.dedup_text import (
    build_lsh_index,
    lsh_candidate_pairs,
    lsh_pairs_against_index,
)
from mack_spark.sources.delta_log import DeltaProtocolTable

from conftest import log_key_ranges


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "pack my box with five dozen liquor jugs before the night ends"),
    (3, "a completely different sentence about distributed query engines"),
]
BATCH = [
    # exact copy of corpus doc 1 -> must match with est 1.0
    (101, "the quick brown fox jumps over the lazy dog near the river bank"),
    # unrelated -> no match
    (102, "totally unrelated content speaking of cooking pasta tonight"),
    # shingle-less (2 tokens) -> NULL bands, silently no match
    (103, "too short"),
]


def test_index_probe_finds_exact_copy(spark, tmp_path):
    idx = build_lsh_index(_docs(spark, CORPUS), str(tmp_path / "idx"))
    out = lsh_pairs_against_index(idx, _docs(spark, BATCH)).collect()
    matches = {(r["new_id"], r["old_id"]): r["est_jaccard"] for r in out}
    assert matches[(101, 1)] == 1.0
    assert all(nid != 102 and nid != 103 for nid, _ in matches)


def test_index_files_have_disjoint_bucket_ranges(spark, tmp_path):
    """Files are range-clustered on (band, band_key): their band ranges
    never cross, and files within one band hold disjoint key ranges."""
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(12))) for i in range(60)]
    idx = build_lsh_index(_docs(spark, docs), str(tmp_path / "idx"), n_files=8)
    assert isinstance(idx, DeltaProtocolTable)
    files = sorted(zip(log_key_ranges(idx, "band"), log_key_ranges(idx, "band_key")))
    assert len(files) >= 2
    same_band = 0
    for ((b_lo, b_hi), (_, k_hi)), ((c_lo, c_hi), (k_lo, _)) in zip(files, files[1:]):
        assert b_hi <= c_lo, files
        if b_lo == b_hi == c_lo == c_hi:
            same_band += 1
            assert k_hi < k_lo, files
    assert same_band, files


def test_index_properties_round_trip(spark, tmp_path):
    idx = build_lsh_index(
        _docs(spark, CORPUS), str(tmp_path / "idx"), num_hashes=8, bands=2
    )
    props = idx.detail()["properties"]
    assert props["mack.lsh.num_hashes"] == "8"
    assert props["mack.lsh.bands"] == "2"
    reopened = DeltaProtocolTable(spark, str(tmp_path / "idx"))
    out = lsh_pairs_against_index(reopened, _docs(spark, BATCH))
    assert out.filter("new_id = 101 AND old_id = 1").count() == 1


def test_index_probe_matches_batch_recompute(spark, tmp_path):
    """The persisted-index path must return exactly the cross pairs the
    all-in-one lsh_candidate_pairs computes on the unioned corpus."""
    corpus, batch = _docs(spark, CORPUS), _docs(spark, BATCH)
    idx = build_lsh_index(corpus, str(tmp_path / "idx"))
    via_index = {
        (r["new_id"], r["old_id"], round(r["est_jaccard"], 9))
        for r in lsh_pairs_against_index(idx, batch).collect()
    }
    allpairs = lsh_candidate_pairs(corpus.unionByName(batch)).collect()
    cross = {
        (r["id_b"], r["id_a"], round(r["est_jaccard"], 9))
        for r in allpairs
        if r["id_a"] <= 3 and r["id_b"] >= 101  # id_a < id_b ordering
    }
    assert via_index == cross


def test_probe_plan_does_not_reshingle_corpus(spark, tmp_path):
    idx = build_lsh_index(_docs(spark, CORPUS), str(tmp_path / "idx"))
    plan = (
        lsh_pairs_against_index(idx, _docs(spark, BATCH))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # batch side: one shingle explode + one band explode; a corpus-side
    # recompute would add two more Generate nodes.
    assert plan.count("Generate") <= 2
    # corpus side is a parquet scan of the PERSISTED index (its
    # band/band_key columns in a FileScan line). Don't assert the
    # directory name: Spark truncates Location: to 100 chars, so a
    # long pytest tmp_path pushes the "idx" segment past the cutoff.
    assert any(
        "FileScan parquet" in line and "band_key" in line
        for line in plan.splitlines()
    ), plan
