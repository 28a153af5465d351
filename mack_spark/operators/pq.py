"""Product quantization (PQ) — the memory-scale path of the ANN family
(brute force → LSH → IVF → PQ): compress each embedding to ``m`` sub-
space code bytes (``m * log2(k) / 8`` bytes/vector — 64-dim float32
→ 8 bytes at m=8,k=16, a 32× reduction), then answer top-k queries by
asymmetric distance computation (ADC): one ``m × k`` lookup table per
query, corpus scored by table-gather + sum, never touching the
original vectors.

Deterministic by construction — no library k-means, no RNG:

* the training sample is hash-gated (:func:`mack_spark.operators
  .sampling.deterministic_sample` semantics inlined), so the same
  corpus always yields the same sample;
* codebooks are trained driver-side with seeded-free Lloyd iterations
  from a deterministic init (first ``k`` sample rows in id order per
  subspace); the sample is small by contract (codebooks are m·k·(d/m)
  floats — KB), like the IVF ``fit_fraction`` path;
* encoding is argmin over sub-distances with index order as the
  tie-break.

SCALE: encoding is map-only (vectorized numpy per Arrow batch, one
``(n, k)`` distance matrix per subspace); ADC scoring broadcasts the
per-query tables in the task closure and emits only local top-k rows
per batch (the :func:`brute_force_topk_pandas` shape), so the global
ranking window sees O(batches · q · k) rows. Verification: exact
recall against the brute-force oracle is pinned in
tests/test_similarity_recall.py (the standard for non-SQL-expressible
quantizers here, like the k-means IVF variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _lloyd(pts, k: int, iters: int):
    """Deterministic Lloyd k-means on a point matrix: init = first
    ``k`` rows (caller provides a deterministic row order), fixed
    ``iters`` rounds, argmin with lowest-index tie-break. Pure numpy on
    the driver — bit-identical across sessions and environments, which
    is what lets fitted state be replayed as SQL literals by an
    external oracle. Shared by the PQ codebook trainer and the IVF
    ``centroids="lloyd"`` coarse quantizer."""
    cent = pts[:k].copy()
    for _ in range(iters):
        d2 = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = pts[mask].mean(axis=0)
    return cent


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    iters: int = 8,
    salt: str = "pq",
    normalize: bool = True,
    max_train_rows: int = 0,
):
    """Train ``m`` subspace codebooks of ``k`` centroids each; returns a
    ``(m, k, dim // m)`` float64 numpy array. Driver-side Lloyd on a
    hash-gated sample (deterministic; documented small-side contract).

    The training collect is BOUNDED by default: ``sample_fraction=None``
    derives the fraction from one corpus count so the expected sample is
    ``max_train_rows`` (default ``256 * k`` — the usual k-means sizing
    rule), regardless of corpus size. Round-5 review flagged the old
    ``sample_fraction=1.0`` default as a driver OOM at 100 TB; pass an
    explicit ``sample_fraction=1.0`` to force full-corpus training on
    small data. Still deterministic: the count is a pure corpus
    property and the gate is the md5 hash gate either way.
    """
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    df = corpus.select(id_col, vec_col)
    if sample_fraction is None:
        target = max_train_rows if max_train_rows > 0 else 256 * k
        n = df.count()
        sample_fraction = 1.0 if n <= target else target / float(n)
    if sample_fraction < 1.0:
        cut = format(int(sample_fraction * 2**32), "08x")
        df = df.filter(
            F.substring(
                F.md5(F.concat_ws("||", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                8,
            )
            < F.lit(cut)
        )
    rows = df.orderBy(id_col).collect()
    if len(rows) < k:
        raise ValueError(f"sample of {len(rows)} rows < k={k}; raise sample_fraction")
    X = np.array([r[1] for r in rows], dtype=np.float64)
    if normalize:  # unit vectors: ADC L2 ranking == cosine ranking
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    X = X.reshape(len(rows), m, sub)
    books = np.empty((m, k, sub), dtype=np.float64)
    for j in range(m):
        # deterministic init: first k rows in id order
        books[j] = _lloyd(X[:, j, :], k, iters)
    return books


def encode_pq(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Map-only PQ encoding: ``(id_col, codes array<smallint>)`` with
    ``codes[j] = argmin_c ||x_sub_j - codebook[j][c]||`` (lowest index
    wins ties). One vectorized distance matrix per subspace per batch."""
    import numpy as np
    import pandas as pd

    m, k, sub = codebooks.shape
    books = codebooks.copy()

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if normalize:
                X = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
            X = X.reshape(len(pdf), m, sub)
            codes = np.empty((len(pdf), m), dtype=np.int16)
            for j in range(m):
                d2 = (
                    (X[:, j, None, :] - books[None, j, :, :]) ** 2
                ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        run, f"{id_col} long, codes array<smallint>"
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    normalize: bool = True,
) -> DataFrame:
    """ADC top-k: per query, an ``m × n_centroids`` table of squared
    sub-distances; each corpus code scores as the table-gather sum (an
    approximation of squared L2 to the original vector). Returns
    ``(query_id, neighbor_id, adc_dist, rank)``, ascending distance,
    neighbor id as tie-break. Queries are collected by the small-side
    contract; corpus codes stream through Arrow batches emitting local
    top-k only."""
    import numpy as np
    import pandas as pd

    m, kc, sub = codebooks.shape
    books = codebooks.copy()
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    if normalize:
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    Q = Q.reshape(len(qrows), m, sub)
    # tables[q, j, c] = ||q_sub_j - book[j][c]||^2
    tables = ((Q[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            n = len(pdf)
            # gather: dist[i, q] = sum_j tables[q, j, codes[i, j]]
            dist = np.zeros((n, len(qids)), dtype=np.float64)
            for j in range(m):
                dist += tables[:, j, codes[:, j]].T
            dist[cids[:, None] == qids[None, :]] = np.inf  # self-matches
            top = min(k, n)
            idx = np.argpartition(dist, top - 1, axis=0)[:top, :]
            out_q, out_n, out_d = [], [], []
            for qj in range(len(qids)):
                rows = idx[:, qj]
                out_q.extend([qids[qj]] * len(rows))
                out_n.extend(cids[rows])
                out_d.extend(dist[rows, qj])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_d}
            )

    scored = encoded.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("adc_dist") != float("inf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("adc_dist", F.round("adc_dist", round_scores))
    )


def pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    rerank_shortlist: int = 0,
    normalize: bool = True,
) -> DataFrame:
    """Train → encode → ADC in one call (convenience for the declared
    query; production pipelines train/encode at ingest and persist the
    codes — the same amortization note as the IVF index path).
    ``rerank_shortlist > 0`` adds the exact re-rank stage
    (:func:`pq_topk_rerank`) — the recall knob that costs only
    shortlist-bounded exact scoring. ``normalize=False`` skips the
    unit-normalization of train/encode/score inputs — the right call
    for corpora whose vectors are already unit-normalized at ingest,
    and what makes every float op here a fixed-order expression an
    external SQL oracle can replay bit-exactly."""
    books = train_pq_codebooks(
        corpus, dim, m, n_centroids, id_col, vec_col, sample_fraction,
        normalize=normalize,
    )
    encoded = encode_pq(corpus, books, id_col, vec_col, normalize=normalize)
    if rerank_shortlist > 0:
        return pq_topk_rerank(
            encoded, corpus, queries, books, k, rerank_shortlist,
            id_col, vec_col, normalize=normalize,
        )
    return pq_topk(
        encoded, queries, books, k, id_col, vec_col, normalize=normalize
    )


def pq_topk_rerank(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    shortlist: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    normalize: bool = True,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the production PQ shape (coarse
    scores pick ``shortlist`` candidates from the codes, then ONLY
    those candidate pairs are scored exactly against the original
    vectors). Candidate-bounded: the exact stage joins ``shortlist``
    rows per query to the corpus (id-equi join, AQE broadcasts the
    candidate side) and folds one ``zip_with`` dot per pair — never an
    all-pairs product. Returns ``(query_id, neighbor_id, cos_sim,
    rank)`` like the brute-force baseline; recall vs brute force is
    pinned in tests/test_pq.py (0.98 at m=16, shortlist=10k on the
    sf0.01 fixture).
    """
    from mack_spark import functions as mf

    if shortlist <= 0:
        shortlist = 10 * k
    cands = pq_topk(
        encoded, queries, codebooks, k=shortlist, id_col=id_col,
        vec_col=vec_col, normalize=normalize,
    ).select("query_id", "neighbor_id")
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    paired = cands.join(cvec, "neighbor_id").join(F.broadcast(qvec), "query_id")
    scored = paired.select(
        "query_id",
        "neighbor_id",
        mf.cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("cos_sim", F.round("cos_sim", round_scores))
    )


def ivfpq_topk(
    index,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    normalize: bool | None = None,
) -> DataFrame:
    """IVF + PQ — the canonical billion-scale ANN composition over a
    ``build_ivf_index(pq_m=...)`` table: the coarse quantizer prunes to
    ``n_probe`` cells (literal ``cell IN (...)`` reaches the parquet
    footers of the cell-clustered files), the ADC pass reads ONLY the
    ``(id, codes, cell)`` columns of those files (column pruning keeps
    the vectors on disk — a 16-byte codes scan instead of a 512-byte
    vector scan), and the exact re-rank touches the true vectors for
    just the per-query shortlist. Returns ``(query_id, neighbor_id,
    cos_sim, rank)``.
    """
    import json as _json

    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    props = index.detail()["properties"]
    if "mack.pq.codebooks" not in props:
        raise ValueError(
            "index has no PQ codes — build it with build_ivf_index(pq_m=...)"
        )
    books = np.array(_json.loads(props["mack.pq.codebooks"]), dtype=np.float64)
    m, kc, sub = books.shape
    if normalize is None:
        # match whatever preparation the index's codes were built with
        normalize = props.get("mack.pq.normalize", "True") == "True"
    idx_id_col = props.get("mack.ivf.id_col", "vec_id")
    if shortlist <= 0:
        shortlist = 10 * k
    center_rows = _json.loads(props["mack.ivf.centroids"])
    from mack_spark import functions as mf
    from mack_spark.operators.similarity import _ivf_assign_topn

    cents = F.broadcast(
        spark.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in center_rows],
            "cid bigint, cvec array<double>",
        ).select("cid", "cvec", mf.l2_norm(F.col("cvec")).alias("cnrm"))
    )
    probes = _ivf_assign_topn(queries, cents, id_col, vec_col, n_probe)
    # ONE collect of the (query, cell) probe pairs serves the probe
    # cell list AND the per-query masks — the assign plan (cross join +
    # window) used to execute three times for three separate collects
    # of the same tiny frame.
    probe_pairs = probes.select("query_id", "cell").collect()
    cells = sorted({r["cell"] for r in probe_pairs})
    qcells: dict = {}
    for r in probe_pairs:
        qcells.setdefault(r["query_id"], set()).add(r["cell"])

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    if normalize:
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    Qs = Q.reshape(len(qrows), m, sub)
    tables = ((Qs[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)
    # per-query probe masks: a candidate row only scores for queries
    # probing its cell
    probe_sets = [qcells.get(int(q), set()) for q in qids]

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[idx_id_col].to_numpy(dtype=np.int64)
            ccells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            n = len(pdf)
            dist = np.zeros((n, len(qids)), dtype=np.float64)
            for j in range(m):
                dist += tables[:, j, codes[:, j]].T
            for qj, pset in enumerate(probe_sets):
                mask = ~np.isin(ccells, list(pset)) if pset else np.ones(n, bool)
                dist[mask, qj] = np.inf
            dist[cids[:, None] == qids[None, :]] = np.inf
            top = min(shortlist, n)
            idx = np.argpartition(dist, top - 1, axis=0)[:top, :]
            out_q, out_n, out_d = [], [], []
            for qj in range(len(qids)):
                rows = idx[:, qj]
                keep = dist[rows, qj] != np.inf
                rows = rows[keep]
                out_q.extend([qids[qj]] * len(rows))
                out_n.extend(cids[rows])
                out_d.extend(dist[rows, qj])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_d}
            )

    cand_scan = (
        index.to_df()
        .filter(F.col("cell").isin([int(c) for c in cells]))
        .select(idx_id_col, "codes", "cell")
    )
    scored = cand_scan.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    cvec = (
        index.to_df()
        .filter(F.col("cell").isin([int(c) for c in cells]))
        .select(F.col(idx_id_col).alias("neighbor_id"), F.col("vec").alias("__cv"))
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    paired = short.join(cvec, "neighbor_id").join(F.broadcast(qvec), "query_id")
    rescored = paired.select(
        "query_id",
        "neighbor_id",
        mf.cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .withColumn("cos_sim", F.round("cos_sim", round_scores))
    )
