"""Persisted near-duplicate component indexes.

The pair graph (LSH banding + exact/estimated similarity) and its
connected components are the expensive, iterative part of content
dedup — and every report downstream of it (cluster listing, keep-one
removal, size histogram, per-group removal profile) only READS the
``(id, component)`` labeling. A pipeline that recomputes the graph per
report pays the LSH join and the pointer-doubling rounds four times
for one answer set; at 100 TB that is the difference between one
overnight job and four.

These builders are the content twins of
:func:`mack_spark.operators.similarity.build_ivf_index`: run once at
ingest, persist the labeling as a Delta-protocol table
(:class:`~mack_spark.sources.delta_log.DeltaProtocolTable`, parameters
recorded in table properties), and let every consumer read
it. Re-run after large appends, exactly like ``OPTIMIZE`` after ingest
(for incremental maintenance of the PAIR side see
``append_to_lsh_index``; components must be re-derived after the pair
graph changes, since one new edge can merge two old components).

The reference has no analogue (its dedup surface is column-equality,
mack/__init__.py:144-284); this extends the same detect-then-act shape
to content keys with the detect phase amortized across consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mack_spark.operators.cluster import connected_components


def build_neardup_components(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    n_files: int = 8,
):
    """Compute the MinHash-LSH near-dup components of a text corpus ONCE
    and persist ``(id_col, cluster_id)`` for every clustered document.

    ``cluster_id`` is the minimum document id of the cluster (the
    deterministic keep-one survivor). Unclustered documents are not
    stored — absence means "no near-duplicate", which keeps the index
    proportional to the duplicated subset, not the corpus.

    SCALE: one LSH candidate pass (banding-bounded, never an all-pairs
    join) + O(log diameter) pointer-doubling rounds, paid once; the
    persisted labeling is range-clustered on ``id_col`` so consumer
    joins against an id-clustered corpus prune files via parquet footer
    stats.

    Returns the created
    :class:`~mack_spark.sources.delta_log.DeltaProtocolTable`.
    """
    from mack_spark.operators.dedup_text import lsh_candidate_pairs
    from mack_spark.sources.delta_log import DeltaProtocolTable

    spark = df.sparkSession
    pairs = lsh_candidate_pairs(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_size=shingle_size,
        min_est_jaccard=min_est_jaccard,
    )
    comp = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    clustered = comp.repartitionByRange(n_files, id_col).sortWithinPartitions(
        id_col
    )
    props = {
        "mack.neardup.kind": "minhash_lsh",
        "mack.neardup.id_col": id_col,
        "mack.neardup.min_est_jaccard": str(min_est_jaccard),
        "mack.neardup.num_hashes": str(num_hashes),
        "mack.neardup.bands": str(bands),
        "mack.neardup.shingle_size": str(shingle_size),
    }
    return DeltaProtocolTable.create(spark, path, df=clustered, properties=props)


def build_semantic_components(
    corpus: DataFrame,
    path: str,
    threshold: float = 0.9,
    n_tables: int = 3,
    bits_per_table: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int = 8,
):
    """Embedding twin of :func:`build_neardup_components`: banded-LSH
    cosine pairs ≥ ``threshold`` → connected components, persisted as
    ``(id_col, cluster_id)`` for every clustered vector.

    Returns the created
    :class:`~mack_spark.sources.delta_log.DeltaProtocolTable`.
    """
    from mack_spark.operators.similarity import (
        embedding_near_dup_pairs_banded,
        near_dup_bits_for,
    )
    from mack_spark.sources.delta_log import DeltaProtocolTable

    spark = corpus.sparkSession
    # Resolve scale-derived bits BEFORE building so the layout actually
    # used is recoverable from the index metadata (a recorded 'None'
    # says nothing about the banding the index was built with).
    resolved_bits = (
        bits_per_table
        if bits_per_table is not None
        else near_dup_bits_for(corpus.count())
    )
    pairs = embedding_near_dup_pairs_banded(
        corpus,
        threshold=threshold,
        n_tables=n_tables,
        bits_per_table=resolved_bits,
        id_col=id_col,
        vec_col=vec_col,
    )
    comp = connected_components(pairs.select("id_a", "id_b")).select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    clustered = comp.repartitionByRange(n_files, id_col).sortWithinPartitions(
        id_col
    )
    props = {
        "mack.neardup.kind": "embedding_banded",
        "mack.neardup.id_col": id_col,
        "mack.neardup.threshold": str(threshold),
        "mack.neardup.n_tables": str(n_tables),
        # the EFFECTIVE layout (scale-derived bits resolved), plus the
        # caller's request so "rebuild with the same call" stays possible
        "mack.neardup.bits_per_table": str(resolved_bits),
        "mack.neardup.bits_per_table_requested": str(bits_per_table),
    }
    return DeltaProtocolTable.create(spark, path, df=clustered, properties=props)


def components_id_col(index) -> str:
    """The id column name a components index was built with."""
    return index.detail()["properties"]["mack.neardup.id_col"]


def clusters_from_components(index) -> DataFrame:
    """The persisted ``(id, cluster_id)`` labeling — same contract as
    :func:`mack_spark.operators.cluster.near_dup_clusters`, read instead
    of recomputed."""
    return index.to_df()


def drop_near_duplicates_from_components(
    df: DataFrame, index, id_col: str | None = None
) -> DataFrame:
    """Keep-one content dedup against a persisted components index —
    result-identical to
    :func:`mack_spark.operators.cluster.drop_near_duplicates` built with
    the same parameters, minus the graph recomputation.

    SCALE: ONE left-anti join of the corpus against the loser id set
    (ids only; clusters are rare relative to the corpus, so the anti
    side broadcasts in practice).
    """
    from mack_spark.operators.cluster import drop_with_clusters

    id_col = id_col or components_id_col(index)
    return drop_with_clusters(df, index.to_df(), id_col)


def cluster_sizes_from_components(index) -> DataFrame:
    """Cluster-size histogram over a persisted components index — same
    contract as :func:`mack_spark.operators.cluster.near_dup_cluster_sizes`."""
    from mack_spark.operators.cluster import clusters_to_sizes

    return clusters_to_sizes(index.to_df())


def semantic_report_from_components(
    corpus: DataFrame,
    index,
    group_col: str = "label",
    id_col: str | None = None,
) -> DataFrame:
    """Per-group removal profile over a persisted semantic components
    index — same contract as
    :func:`mack_spark.operators.cluster.semantic_dedup_report`."""
    from mack_spark.operators.cluster import semantic_report_from_labels

    id_col = id_col or components_id_col(index)
    return semantic_report_from_labels(corpus, index.to_df(), group_col, id_col)
