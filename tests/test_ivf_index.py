"""Persisted IVF index (build_ivf_index / ivf_topk_from_index): the
ingest-time state must reproduce ivf_topk exactly, the probe scan must
push a literal cell IN (...) filter to parquet, and the cell-clustered
files must carry disjoint cell ranges in their log stats (the property
that lets file stats prune unprobed cells)."""

import random

from pyspark.sql import functions as F

from mack_spark.operators import build_ivf_index, ivf_topk, ivf_topk_from_index
from mack_spark.sources.delta_log import DeltaProtocolTable

from conftest import log_key_ranges


def _embeddings(spark, n=400, dim=8, seed=3):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _key(rows):
    return sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in rows)


def test_index_matches_direct_ivf(spark, tmp_path):
    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") < 8)
    for mode in ("first", "kmeans"):
        idx = build_ivf_index(
            emb, str(tmp_path / f"idx-{mode}"), n_cells=8, centroids=mode
        )
        direct = ivf_topk(
            emb, queries, k=5, n_cells=8, n_probe=3, centroids=mode
        ).collect()
        indexed = ivf_topk_from_index(idx, queries, k=5, n_probe=3).collect()
        assert _key(indexed) == _key(direct), mode


def test_probe_scan_pushes_cell_filter(spark, tmp_path):
    emb = _embeddings(spark)
    idx = build_ivf_index(emb, str(tmp_path / "idx"), n_cells=8, centroids="first")
    plan = (
        ivf_topk_from_index(idx, emb.filter(F.col("vec_id") < 4), k=3, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "In(cell" in plan, plan


def test_index_files_have_disjoint_cell_ranges(spark, tmp_path):
    emb = _embeddings(spark)
    idx = build_ivf_index(
        emb, str(tmp_path / "idx"), n_cells=8, centroids="first", n_files=4
    )
    assert isinstance(idx, DeltaProtocolTable)
    ivs = sorted(log_key_ranges(idx, "cell"))
    assert len(ivs) >= 2  # actually clustered into multiple files
    for (lo1, hi1), (lo2, hi2) in zip(ivs, ivs[1:]):
        assert hi1 < lo2, f"overlapping cell ranges: {ivs}"
    props = idx.detail()["properties"]
    assert props["mack.ivf.n_cells"] == "8"
