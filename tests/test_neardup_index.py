"""Persisted near-dup component indexes: every reader must be
result-identical to the direct operator it amortizes — otherwise the
"compute the graph once" optimization silently changes answers."""

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def text_index(spark, docs, tmp_path_factory):
    from mack_spark.operators import build_neardup_components

    path = str(tmp_path_factory.mktemp("nd") / "index")
    return build_neardup_components(docs, path, min_est_jaccard=0.5)


@pytest.fixture(scope="module")
def sem_index(spark, emb, tmp_path_factory):
    from mack_spark.operators import build_semantic_components

    path = str(tmp_path_factory.mktemp("sem") / "index")
    return build_semantic_components(
        emb, path, threshold=0.3, n_tables=3, bits_per_table=6
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_clusters_reader_matches_direct(spark, docs, text_index):
    from mack_spark.operators import clusters_from_components, near_dup_clusters

    direct = near_dup_clusters(docs, min_est_jaccard=0.5)
    assert _rows(clusters_from_components(text_index)) == _rows(direct)


def test_drop_reader_matches_direct(spark, docs, text_index):
    from mack_spark.operators import (
        drop_near_duplicates,
        drop_near_duplicates_from_components,
    )

    direct = drop_near_duplicates(docs)
    via_index = drop_near_duplicates_from_components(docs, text_index)
    assert _rows(via_index.select("doc_id")) == _rows(direct.select("doc_id"))
    # full corpus minus losers: schema passthrough intact
    assert via_index.columns == docs.columns


def test_sizes_reader_matches_direct(spark, docs, text_index):
    from mack_spark.operators import (
        cluster_sizes_from_components,
        near_dup_cluster_sizes,
    )

    assert _rows(cluster_sizes_from_components(text_index)) == _rows(
        near_dup_cluster_sizes(docs)
    )


def test_semantic_reader_matches_direct(spark, emb, sem_index):
    from mack_spark.operators import (
        semantic_dedup_report,
        semantic_report_from_components,
    )

    direct = semantic_dedup_report(
        emb, threshold=0.3, n_tables=3, bits_per_table=6
    )
    assert _rows(semantic_report_from_components(emb, sem_index)) == _rows(direct)


def test_index_records_parameters(text_index, sem_index):
    p = text_index.detail()["properties"]
    assert p["mack.neardup.kind"] == "minhash_lsh"
    assert p["mack.neardup.min_est_jaccard"] == "0.5"
    sp = sem_index.detail()["properties"]
    assert sp["mack.neardup.kind"] == "embedding_banded"
    assert sp["mack.neardup.bits_per_table"] == "6"


def test_index_stores_only_clustered_docs(docs, text_index):
    n_docs = docs.count()
    labeling = text_index.to_df()
    assert labeling.count() < n_docs  # absence == unclustered
    # every cluster_id is a member of its own cluster (min-id survivor)
    roots = labeling.select(F.col("cluster_id").alias("doc_id")).distinct()
    missing = roots.join(labeling, "doc_id", "left_anti").count()
    assert missing == 0
