"""Approximate-nearest-neighbor search over an embedding column.

Two plans over ``embeddings(vec_id, embedding: array<float>, label)``:

* :func:`brute_force_topk` — exact cosine top-k. The query side is
  broadcast; the corpus is scanned once; per-partition top-k is taken
  before the final shuffle (the window ranks only k*queries rows per
  partition... in practice Spark's TakeOrderedAndProject handles the
  final cut). Baseline and verification oracle.
* :func:`lsh_bucketed_topk` — random-hyperplane LSH (deterministic,
  md5-seeded hyperplanes): corpus and queries are bucketed by sign
  pattern; only same-bucket pairs are scored. The scale path: bucket
  count grows 2^bits, so the per-bucket join is ~n/2^bits of the corpus.

SCALE (100 TB / billions of vectors): brute force is one broadcast of
the query block (must stay ≤ ~1 GB) and a full corpus scan per query
batch — use it for reranking. The LSH plan shards the corpus by bucket
id (a plain repartition key), making each executor's candidate set
bucket-local; recall is tuned by ``bits`` (fewer bits = more recall,
bigger buckets) and by probing neighboring buckets (multi-probe not
implemented in round 1). An IVF variant (k-means coarse quantizer via
Spark ML, then in-cell brute force) is the natural next step; the
bucket-join skeleton here is identical.

Most operators here score with ``mf.dot`` / ``mf.l2_norm``: ``zip_with``
+ ``aggregate`` folds, which Spark evaluates interpreted (higher-order
functions have no codegen), so every scored pair folds ``dim`` products
through interpreted lambdas. :func:`embedding_near_dup_pairs` instead
scores in numpy inside Arrow-batched pandas UDFs, with the same left
fold and therefore bit-identical results.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mack_spark import functions as mf

logger = logging.getLogger(__name__)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus
    vectors (self-matches excluded).

    Returns ``(query_id, neighbor_id, cos_sim, rank)`` — scores rounded
    so downstream equality checks are float-stable.
    """
    # Norms are computed ONCE per row on each side before the pair
    # join, so each of the n*q scored pairs folds one array (the dot),
    # not three. FP-identical to mf.cosine: same dot, same sqrt, same
    # multiply-then-divide order.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            mf.l2_norm(F.col(vec_col)).alias("qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        mf.l2_norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (mf.dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", round_scores).alias("cos_sim"),
            "rank",
        )
    )


def hyperplane_components(seed: int, dim: int) -> list:
    """Deterministic pseudo-random hyperplane: component j is +1/-1 by
    the first hex digit of md5('hp<seed>:<j>'). Computed driver-side
    (tiny) so both Spark and any SQL oracle can inline the same
    literals instead of evaluating md5 per row."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"hp{seed}:{j}".encode()).hexdigest()[0] in "01234567" else -1.0
        for j in range(dim)
    ]


def _hyperplane(seed: int, dim: int):
    return F.array(*[F.lit(c) for c in hyperplane_components(seed, dim)])


def lsh_bucket(vec: F.Column, bits: int, dim: int) -> F.Column:
    """Sign-pattern bucket id of a vector under ``bits`` fixed random
    hyperplanes — a ``bits``-char '0'/'1' string."""
    return F.concat(
        *[
            F.when(mf.dot(vec, _hyperplane(b, dim)) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for b in range(bits)
        ]
    )


def lsh_bucket_int(vec: F.Column, bits: int, dim: int) -> F.Column:
    """Integer form of :func:`lsh_bucket` — bit ``b`` set when the dot
    with hyperplane ``b`` is >= 0. Enables cheap neighbor-bucket
    generation (flip = XOR) for multi-probe."""
    terms = [
        F.when(mf.dot(vec, _hyperplane(b, dim)) >= 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        for b in range(bits)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def lsh_probe_buckets(
    vec: F.Column, bits: int, dim: int, n_probe: int
) -> F.Column:
    """Multi-probe bucket list for a query vector: its exact bucket plus
    the ``n_probe - 1`` flip-1-bit neighbor buckets, probed in
    increasing |margin| order — the hyperplanes whose boundary the
    vector sits closest to are flipped first, because those are the
    splits most likely to have separated a true near neighbor
    (multi-probe LSH, Lv et al., VLDB'07).

    Query-side only (tiny, broadcast): the corpus stays single-bucket,
    so corpus storage and shuffle are unchanged; recall is bought with
    ``n_probe`` bucket lookups instead of a bigger (2^-bits) table.
    """
    base = lsh_bucket_int(vec, bits, dim)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(mf.dot(vec, _hyperplane(b, dim))).alias("m"),
                    F.lit(b).alias("b"),
                )
                for b in range(bits)
            ]
        )
    )
    flip_order = F.slice(
        F.transform(margins, lambda s: s.getField("b")), 1, max(0, n_probe - 1)
    )
    flipped = F.transform(
        flip_order,
        # XOR with 2^b — pow is exact for b < 31, and bits is small.
        lambda b: base.bitwiseXOR(
            F.pow(F.lit(2.0), b.cast("double")).cast("int")
        ),
    )
    return F.concat(F.array(base), flipped)


def lsh_probe_buckets_subset(
    vec: F.Column, bits: int, dim: int, m: int, table: int = 0
) -> F.Column:
    """Full multi-probe sequence (Lv et al., VLDB'07): the query's exact
    bucket plus every XOR-perturbation over its ``m`` lowest-|margin|
    hyperplanes — ``2^m`` probe buckets. Distant-but-true neighbors are
    separated, with overwhelming probability, by exactly the hyperplanes
    whose boundary the query sits closest to; probing all subsets of
    those ``m`` bits recovers them without touching corpus-side state.

    ``table`` offsets the hyperplane seeds (``table*1000 + b``) so
    independent tables draw independent hyperplanes; table 0 reproduces
    :func:`lsh_bucket_int` exactly.
    """
    m = min(m, bits)
    dots = [mf.dot(vec, _hyperplane(table * 1000 + b, dim)) for b in range(bits)]
    terms = [
        F.when(d >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b, d in enumerate(dots)
    ]
    base = terms[0]
    for t in terms[1:]:
        base = base + t
    base = base.cast("int")
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(d).alias("m"), F.lit(b).alias("b"))
                for b, d in enumerate(dots)
            ]
        )
    )
    lows = F.slice(F.transform(margins, lambda s: s.getField("b")), 1, m)
    import itertools

    probes = []
    for r in range(m + 1):
        for subset in itertools.combinations(range(m), r):
            mask = F.lit(0)
            for i in subset:
                mask = mask + F.pow(
                    F.lit(2.0), F.element_at(lows, i + 1).cast("double")
                ).cast("int")
            probes.append(base.bitwiseXOR(mask.cast("int")))
    return F.array(*probes)


def lsh_multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    n_tables: int = 12,
    m_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
) -> DataFrame:
    """OR-amplified ANN: ``n_tables`` independent hyperplane-LSH tables,
    each probed with the full ``2^m_probe`` subset-perturbation sequence;
    a neighbor is a candidate if ANY table surfaces it.

    This is the recall instrument for angularly DISTANT targets — at
    cos ≈ 0.3 (θ ≈ 70°) a single sign-LSH table collides true pairs
    with only ~0.6 per bit, so no one-table probe schedule reaches high
    recall; OR-ing tables drives miss probability down geometrically
    (measured on sf0.01: recall 0.92 at bits=8/m=4/L=12 vs brute-force
    cos>=0.3 ground truth, scanning ~54% of the pair space — at
    near-dup thresholds (>=0.8) the same machinery prunes >10× harder
    because per-bit collision rises to ~0.85).

    SCALE: candidate generation carries only (query_id, neighbor_id) —
    corpus vectors are never shuffled per table. Each table is one
    map-side bucket computation + a broadcast-probe join; the union is
    deduplicated once, and vectors are joined back for ONE scoring pass.
    At 100 TB, precompute the ``n_tables`` bucket columns once at ingest
    (they're deterministic) instead of per query batch.

    Output contract matches :func:`brute_force_topk`.
    """
    qvecs = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            mf.l2_norm(F.col(vec_col)).alias("qn"),
        )
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        mf.l2_norm(F.col(vec_col)).alias("cn"),
    )
    cand = None
    for t in range(n_tables):
        c_t = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            lsh_bucket_int_table(F.col(vec_col), bits, dim, t).alias("bucket"),
        )
        q_t = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.explode(
                    lsh_probe_buckets_subset(
                        F.col(vec_col), bits, dim, m_probe, table=t
                    )
                ).alias("bucket"),
            )
        )
        pairs_t = c_t.join(q_t, "bucket").select("query_id", "neighbor_id")
        cand = pairs_t if cand is None else cand.unionByName(pairs_t)
    cand = cand.filter(F.col("query_id") != F.col("neighbor_id")).distinct()
    scored = (
        cand.join(cvecs, "neighbor_id")
        .join(qvecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (mf.dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", round_scores).alias("cos_sim"),
            "rank",
        )
    )


def lsh_bucket_int_table(
    vec: F.Column, bits: int, dim: int, table: int
) -> F.Column:
    """:func:`lsh_bucket_int` under table-offset hyperplane seeds."""
    terms = [
        F.when(
            mf.dot(vec, _hyperplane(table * 1000 + b, dim)) >= 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
        for b in range(bits)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def near_dup_bits_for(n_rows: int, target_bucket_rows: int = 256) -> int:
    """Hyperplane count that keeps LSH buckets ≈ ``target_bucket_rows``
    rows at corpus size ``n_rows``: ``ceil(log2(n / target))``, min 1.

    Candidate volume under this rule is Σ_buckets b² ≈ n · target —
    LINEAR in n at a fixed per-bucket budget — versus O(n²/2^bits) for
    any constant ``bits`` (round-5 review: bits=4 ⇒ 16 buckets forever,
    a 16-key shuffle and quadratic candidates at 100 TB). Recall per
    pair at angle θ is (1 - θ/π)^bits, so growing ``bits`` with n trades
    a slow recall decay for the quadratic blowup; recover recall with
    ``n_probe`` (multi-probe) rather than fewer bits.
    """
    import math

    if n_rows <= target_bucket_rows:
        return 1
    return max(1, math.ceil(math.log2(n_rows / float(target_bucket_rows))))


# Cells of one temporary score matrix in embedding_near_dup_pairs' pair
# scoring (8 MiB of float64); bounds its memory at any bucket size.
_SCORE_BLOCK_CELLS = 1 << 20


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    n_probe: int = 1,
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: unordered ``(id_a < id_b)``
    pairs whose cosine similarity is ≥ ``threshold``, candidate-limited
    to pairs sharing a hyperplane-LSH bucket (or, with ``n_probe > 1``,
    a flip-1-bit neighbor bucket — one side probes, so each candidate
    pair is still generated at most once).

    The scale path for near-dup dedup over embeddings (reference has no
    equivalent; LLM-pipeline extension per SURVEY §7 phase 5): pairs are
    scored bucket-local — each of the 2^bits buckets is scored only
    against itself, never the full O(n²) cross product.

    ``bits=None`` (default) is SCALE-AWARE: one corpus count derives
    ``bits`` via :func:`near_dup_bits_for`, holding buckets at
    ~``target_bucket_rows`` rows so candidate volume stays ~n·target
    (linear in n) instead of O(n²/2^bits) at any fixed ``bits``. Pass an
    explicit ``bits`` for a reproducible bucket layout (the oracle-
    checked driver query pins ``bits=4`` so its SQL twin can inline the
    4 hyperplanes). Recall at angle θ is (1 - θ/π)^bits per table —
    buy recall back with ``n_probe``, not fewer bits.

    Kernel: ``select(id, vec) → mapInPandas → groupBy(bucket)
    .applyInPandas → round``, all arithmetic in numpy.

    * The map step gives each row its norm and its home bucket (bit
      ``b`` set when the dot with hyperplane ``b`` is ≥ 0, the
      :func:`lsh_bucket_int` layout), and with ``n_probe > 1`` one
      visitor row per flipped bucket, flipped in ascending
      ``(|margin|, b)`` order as :func:`lsh_probe_buckets` does.
    * The grouped step scores, per bucket, every row ``a`` against
      every home row ``b`` with ``a.id < b.id`` and keeps
      ``cos = dot(a, b) / (‖a‖·‖b‖) ≥ threshold``.
    * Every dot is the left fold of :func:`mack_spark.functions.dot`
      (``acc + double(x_j)·double(y_j)``, j = 0…dim-1), so buckets,
      scores and the threshold test are bit-identical to the Spark
      expressions ``mf.dot`` / ``mf.l2_norm`` would give.

    Row contract: a row takes part only when its id is non-NULL and its
    embedding is non-NULL, has exactly ``dim`` elements, none of them
    NULL or non-finite (NaN, ±inf), and a non-zero norm. Any other row
    yields no pairs. Rows sharing an id never pair with each other.

    Memory: one bucket's rows (with their visitors) are scored in one
    Python worker, so a bucket must fit in one worker's memory —
    ``bits=None`` keeps buckets near ``target_bucket_rows`` rows. Pairs
    are scored in row blocks of at most ``_SCORE_BLOCK_CELLS`` cells,
    which bounds the temporary score matrices at any bucket size.

    Returns ``(id_a, id_b, cos_sim)``, ``cos_sim`` rounded to
    ``round_scores`` digits.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if bits is None:
        bits = near_dup_bits_for(corpus.count(), target_bucket_rows)
    # planes_t[j, b]: component j of hyperplane b (exactly ±1.0).
    planes_t = np.array(
        [hyperplane_components(b, dim) for b in range(bits)]
    ).reshape(bits, dim).T
    n_flip = min(max(0, n_probe - 1), bits)

    def fold(x, y):
        # mf.dot's left fold over the leading axis, broadcast over the rest.
        acc = np.zeros(np.broadcast_shapes(x.shape[1:], y.shape[1:]))
        for xj, yj in zip(x, y):
            acc += xj * yj
        return acc

    def place(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            nrm = np.sqrt(fold(x.T, x.T))
            ok = np.isfinite(x).all(axis=1) & (nrm > 0)
            if not ok.any():
                continue
            xt, nrm = np.ascontiguousarray(x[ok].T), nrm[ok]
            margins = fold(xt[:, :, None], planes_t[:, None, :])
            home = ((margins >= 0) << np.arange(bits)).sum(axis=1)
            flips = np.argsort(np.abs(margins), axis=1, kind="stable")
            buckets = np.concatenate(
                [home[:, None], home[:, None] ^ (1 << flips[:, :n_flip])],
                axis=1,
            )
            src = np.repeat(np.flatnonzero(ok), 1 + n_flip)
            yield pd.DataFrame({
                "bucket": buckets.ravel(),
                "id": pdf["id"].to_numpy()[src],
                "vec": pdf["vec"].to_numpy()[src],
                "nrm": np.repeat(nrm, 1 + n_flip),
                "home": np.tile([True] + [False] * n_flip, len(nrm)),
            })

    def score(pdf):
        ids = pdf["id"].to_numpy()
        xt = np.ascontiguousarray(
            np.stack(pdf["vec"].to_numpy()).astype(np.float64).T
        )
        nrm = pdf["nrm"].to_numpy()
        home = pdf["home"].to_numpy(dtype=bool)
        h_ids, h_xt, h_nrm = ids[home], xt[:, home], nrm[home]
        step = max(1, _SCORE_BLOCK_CELLS // max(1, len(h_ids)))
        out_a, out_b, out_cos = [], [], []
        for s in range(0, len(ids), step):
            a = slice(s, s + step)
            cos = fold(xt[:, a, None], h_xt[:, None, :]) / (
                nrm[a, None] * h_nrm[None, :]
            )
            ia, ib = np.nonzero(
                (ids[a, None] < h_ids[None, :]) & (cos >= threshold)
            )
            out_a.append(ids[a][ia])
            out_b.append(h_ids[ib])
            out_cos.append(cos[ia, ib])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cos": np.concatenate(out_cos),
        })

    rows = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).where(F.col("id").isNotNull() & (F.size("vec") == dim))
    id_type = rows.schema["id"].dataType
    placed = rows.mapInPandas(
        place,
        StructType([
            StructField("bucket", LongType()),
            StructField("id", id_type),
            StructField("vec", rows.schema["vec"].dataType),
            StructField("nrm", DoubleType()),
            StructField("home", BooleanType()),
        ]),
    )
    return (
        placed.groupBy("bucket")
        .applyInPandas(
            score,
            StructType([
                StructField("id_a", id_type),
                StructField("id_b", id_type),
                StructField("cos", DoubleType()),
            ]),
        )
        .select("id_a", "id_b", F.round("cos", round_scores).alias("cos_sim"))
    )


def embedding_near_dup_pairs_banded(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 4,
    bits_per_table: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    target_bucket_rows: int = 256,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Banded (multi-table) embedding-cosine near-duplicate pairs — the
    AND-OR amplified form of :func:`embedding_near_dup_pairs`, exactly
    like MinHash-LSH banding amplifies single minhashes.

    Each of ``n_tables`` independent hyperplane tables (seeds
    ``table*1000 + b``, the :func:`lsh_bucket_int_table` scheme) buckets
    the corpus on ``bits_per_table`` sign bits; a pair is a candidate if
    it collides in ANY table (OR over tables, AND within a table). At
    per-hyperplane collision probability p = 1 - θ/π the pair survives
    with 1 - (1 - p^bits)^n_tables: high ``bits_per_table`` keeps every
    bucket tiny (candidate volume ~ n·bucket_rows per table, linear in
    n), and ``n_tables`` buys the recall back — the knob trade the
    single-table form lacks.

    ``bits_per_table=None`` derives bits from one corpus count via
    :func:`near_dup_bits_for` (buckets ≈ ``target_bucket_rows`` rows);
    the oracle-checked driver query pins it so its SQL twin can inline
    the hyperplane literals.

    SCALE: candidate generation carries ONLY id pairs — vectors are
    never shuffled per table; the union is deduplicated once and
    vectors join back for a single exact-cosine scoring pass, so the
    vector columns move at most twice regardless of ``n_tables``.

    Returns ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``, distinct,
    exact cosine ≥ ``threshold``.
    """
    if bits_per_table is None:
        bits_per_table = near_dup_bits_for(corpus.count(), target_bucket_rows)
    # ALL tables' buckets in one scan: explode (table, bucket) structs
    # and self-join once on the composite (table, bucket) key — the
    # _band_rows shape. One corpus scan + one shuffle regardless of
    # n_tables, vs n_tables scans + n_tables shuffles for per-table
    # joins (the union of per-table joins is plan-identical otherwise).
    # persist + eager fill: the self-join reads this frame on BOTH
    # sides, and the bucket expression is n_tables × bits interpreted
    # dot folds per row — without the persist Spark evaluates it twice
    # (once per side). Narrow rows (id + 2 ints per table).
    keyed = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            lsh_bucket_int_table(
                                F.col(vec_col), bits_per_table, dim, t
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        )
        .select("id", "tb.tbl", "tb.bucket")
        .persist()
    )
    keyed.count()
    if max_bucket_rows is not None:
        # hot-bucket skew guard, same contract as
        # lsh_candidate_pairs(max_bucket_rows=...): a (table, bucket)
        # key shared by more than the cap carries no near-dup signal
        # (hyperplane-degenerate direction — e.g. a mirror crawl's
        # shared boilerplate embedding mode) and alone would turn the
        # candidate join quadratic. Dropped buckets' members still
        # pair through the OTHER tables; the anti side is ≤ n/cap
        # buckets by construction, so it broadcasts.
        over = (
            keyed.groupBy("tbl", "bucket")
            .agg(F.count(F.lit(1)).alias("__bucket_rows"))
            .filter(F.col("__bucket_rows") > max_bucket_rows)
        )
        stats = over.agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("__bucket_rows"), F.lit(0)).alias("nr"),
        ).collect()[0]
        if stats["nb"]:
            logger.warning(
                "embedding_near_dup_pairs_banded: excluding %d hot "
                "bucket(s) (%d member rows) over max_bucket_rows=%d",
                stats["nb"], stats["nr"], max_bucket_rows,
            )
        keyed_j = keyed.join(
            F.broadcast(over.select("tbl", "bucket")),
            ["tbl", "bucket"],
            "left_anti",
        )
    else:
        keyed_j = keyed
    a, b = keyed_j.alias("a"), keyed_j.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        mf.l2_norm(F.col(vec_col)).alias("nrm"),
    )
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (mf.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", round_scores).alias("cos_sim"))
    )
    # materialize the (threshold-bounded) pair set and RELEASE the keyed
    # frame: persist() blocks are never auto-evicted, so returning a
    # lazy plan over them would leak n_tables × n rows of cache for the
    # session lifetime. localCheckpoint blocks are GC-cleaned with the
    # returned DataFrame, and downstream iterative consumers
    # (connected_components) re-read the pairs many times for free.
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        keyed.unpersist()
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    centroids: str = "first",
    seed: int = 42,
    fit_fraction: float | None = None,
    max_iter: int = 10,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_cells``
    inverted lists, probe the ``n_probe`` closest lists per query, and
    brute-force only inside the probed lists.

    Two coarse quantizers, one plan:

    * ``centroids="kmeans"`` (the production path): Spark-ML k-means
      under a fixed ``seed`` — centroids adapt to the data's density,
      which is what makes probed lists contain the true neighbors.
      ``fit_fraction`` subsamples the fit at scale (centroid quality
      needs only a sample; assignment still covers every vector).
      Recall is measured against brute force in
      tests/test_similarity_recall.py.
    * ``centroids="first"``: the ``n_cells`` lowest-id corpus vectors —
      fully deterministic, so any SQL engine reproduces the exact cell
      assignment (the oracle-checkable form the declared query uses).

    At scale the interesting properties hold under either quantizer:
    assignment is one broadcast (centroids) + map-side argmax (partial
    aggregation collapses the n_cells candidate rows per vector before
    any shuffle), and the candidate join shuffles on the cell id, so
    each executor scores ~``n_probe/n_cells`` of the corpus per query
    block instead of all of it.

    Returns ``(query_id, neighbor_id, cos_sim, rank)`` — same contract
    as :func:`brute_force_topk` (self-matches excluded).
    """
    cents = _ivf_centroids(
        corpus, n_cells, centroids, id_col, vec_col, seed, fit_fraction, max_iter
    )
    lists = _ivf_corpus_cells(corpus, cents, id_col, vec_col)
    probes = _ivf_assign_topn(queries, cents, id_col, vec_col, n_probe)
    return _ivf_rank(probes, lists, k, round_scores)


def _ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    centroids: str,
    id_col: str,
    vec_col: str,
    seed: int,
    fit_fraction: float | None,
    max_iter: int,
) -> DataFrame:
    """Broadcast-ready coarse-quantizer centroids ``(cid, cvec, cnrm)``
    (see :func:`ivf_topk` for the two quantizer modes).

    ``fit_fraction=None`` (the default everywhere) bounds the k-means
    fit sample at ~``256 * n_cells`` rows via one corpus count —
    centroid quality needs a sample, not the corpus, and an unbounded
    full-corpus fit is ``max_iter`` extra full passes at 100 TB.
    """
    if centroids == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        fit_df = corpus.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        if fit_fraction is None:
            target = 256 * n_cells
            n = fit_df.count()
            fit_fraction = 1.0 if n <= target else target / float(n)
        if fit_fraction < 1.0:
            fit_df = fit_df.sample(fit_fraction, seed)
        model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(fit_df)
        centers = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        return F.broadcast(
            corpus.sparkSession.createDataFrame(
                centers, "cid bigint, cvec array<double>"
            ).select("cid", "cvec", mf.l2_norm(F.col("cvec")).alias("cnrm"))
        )
    if centroids == "lloyd":
        # Deterministic Lloyd k-means (driver-side numpy on an
        # id-ordered, hash-gated sample — the pq.py trainer's
        # contract): same adaptive centroids as "kmeans", but
        # bit-identical across sessions/environments, so the fitted
        # state can be inlined as literals by an external SQL oracle.
        # No RNG, no partition-order float sums.
        import numpy as np

        from mack_spark.operators.pq import _lloyd

        fit_df = corpus.select(id_col, vec_col)
        if fit_fraction is None:
            target = 256 * n_cells
            n = fit_df.count()
            fit_fraction = 1.0 if n <= target else target / float(n)
        if fit_fraction < 1.0:
            cut = format(int(fit_fraction * 2**32), "08x")
            fit_df = fit_df.filter(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "||", F.lit("ivf"), F.col(id_col).cast("string")
                        )
                    ),
                    1,
                    8,
                )
                < F.lit(cut)
            )
        rows = fit_df.orderBy(id_col).collect()
        if len(rows) < n_cells:
            raise ValueError(
                f"fit sample of {len(rows)} rows < n_cells={n_cells}"
            )
        X = np.array([r[1] for r in rows], dtype=np.float64)
        cent = _lloyd(X, n_cells, max_iter)
        centers = [(i, [float(x) for x in cent[i]]) for i in range(n_cells)]
        return F.broadcast(
            corpus.sparkSession.createDataFrame(
                centers, "cid bigint, cvec array<double>"
            ).select("cid", "cvec", mf.l2_norm(F.col("cvec")).alias("cnrm"))
        )
    if centroids == "first":
        return F.broadcast(
            corpus.orderBy(id_col)
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cvec"),
                mf.l2_norm(F.col(vec_col)).alias("cnrm"),
            )
        )
    raise ValueError(f"unknown centroids mode: {centroids!r}")


def _ivf_assign_topn(
    df: DataFrame, cents: DataFrame, id_col: str, vec_col: str, top: int
) -> DataFrame:
    """Assign each vector its ``top`` closest cells (query-side probe
    list): broadcast centroid cross + windowed top-n per vector."""
    scored = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        mf.l2_norm(F.col(vec_col)).alias("vnrm"),
    ).join(cents, how="cross").select(
        "query_id",
        "qvec",
        "vnrm",
        "cid",
        (
            mf.dot(F.col("qvec"), F.col("cvec"))
            / (F.col("vnrm") * F.col("cnrm"))
        ).alias("cc"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cc").desc(), F.col("cid").asc())
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= top)
        .select("query_id", "qvec", "vnrm", F.col("cid").alias("cell"))
    )


def _ivf_corpus_cells(
    corpus: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Corpus-side cell assignment ``(neighbor_id, nvec, nnrm, cell)``:
    exact argmax per vector via one aggregation — the struct max picks
    highest cosine, then lowest cid on ties; first() is safe because
    every row in an id-group carries the same vector."""
    corpus_scored = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec_full"),
        mf.l2_norm(F.col(vec_col)).alias("nnrm"),
    ).join(cents, how="cross").select(
        "neighbor_id",
        "cvec_full",
        "nnrm",
        (
            mf.dot(F.col("cvec_full"), F.col("cvec"))
            / (F.col("nnrm") * F.col("cnrm"))
        ).alias("cc"),
        F.col("cid"),
    )
    return corpus_scored.groupBy("neighbor_id").agg(
        F.max(F.struct(F.col("cc"), (-F.col("cid")).alias("negcid"))).alias("best"),
        F.first("cvec_full").alias("nvec"),
        F.first("nnrm").alias("nnrm"),
    ).select("neighbor_id", "nvec", "nnrm", (-F.col("best.negcid")).alias("cell"))


def _ivf_rank(
    probes: DataFrame, lists: DataFrame, k: int, round_scores: int
) -> DataFrame:
    cand = probes.join(lists, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # A query probing n_probe cells can see a neighbor at most once
    # (each corpus vector lives in exactly one list) — no dedup needed.
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            mf.dot(F.col("qvec"), F.col("nvec")) / (F.col("vnrm") * F.col("nnrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", round_scores).alias("cos_sim"),
            "rank",
        )
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    centroids: str = "kmeans",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    max_iter: int = 10,
    n_files: int | None = None,
    pq_m: int = 0,
    pq_k: int = 16,
    pq_normalize: bool = True,
):
    """Persist IVF state at INGEST time instead of refitting per query
    batch: fit/choose the coarse quantizer once, assign every corpus
    vector its cell, and write ``(id, vec, nrm, cell)`` as a
    Delta-protocol table range-clustered on ``cell`` with the centroids
    stored in table properties.

    The clustering is what makes probing cheap at 100 TB: files carry
    disjoint cell ranges, so a probe's ``cell IN (...)`` predicate
    prunes whole files from the parquet scan (footer min/max stats —
    the same mechanism Delta data-skipping uses). Re-run after large
    appends, exactly like ``OPTIMIZE`` after ingest.

    Returns the created
    :class:`~mack_spark.sources.delta_log.DeltaProtocolTable`.
    """
    import json as _json

    from mack_spark.sources.delta_log import DeltaProtocolTable

    spark = corpus.sparkSession
    cents = _ivf_centroids(
        corpus, n_cells, centroids, id_col, vec_col, seed, fit_fraction, max_iter
    )
    center_rows = [
        (r["cid"], [float(x) for x in r["cvec"]]) for r in cents.collect()
    ]
    lists = _ivf_corpus_cells(corpus, cents, id_col, vec_col).select(
        F.col("neighbor_id").alias(id_col),
        F.col("nvec").alias("vec"),
        F.col("nnrm").alias("nrm"),
        "cell",
    )
    props = {
        "mack.ivf.id_col": id_col,
        "mack.ivf.n_cells": str(n_cells),
        "mack.ivf.centroids": _json.dumps(center_rows),
    }
    if pq_m > 0:
        # IVF+PQ: also persist PQ codes per vector (the compressed
        # representation the ADC scan reads INSTEAD of the vectors —
        # column pruning turns a probe into a codes-only scan) and the
        # codebooks in table properties beside the centroids.
        from mack_spark.operators.pq import encode_pq, train_pq_codebooks

        sample_dim = len(
            corpus.select(vec_col).limit(1).collect()[0][0]
        )
        books = train_pq_codebooks(
            corpus, sample_dim, pq_m, pq_k, id_col, vec_col,
            sample_fraction=fit_fraction, normalize=pq_normalize,
        )
        codes = encode_pq(
            corpus, books, id_col, vec_col, normalize=pq_normalize
        ).withColumnRenamed(id_col, "__cid_join")
        lists = lists.join(
            codes, F.col(id_col) == F.col("__cid_join")
        ).drop("__cid_join")
        props["mack.pq.codebooks"] = _json.dumps(books.tolist())
        props["mack.pq.m"] = str(pq_m)
        props["mack.pq.k"] = str(pq_k)
        # queries must be prepared the way the codes were built —
        # record it so probe-time callers don't have to remember
        props["mack.pq.normalize"] = str(pq_normalize)
    files = n_files or min(n_cells, 16)
    clustered = lists.repartitionByRange(files, "cell").sortWithinPartitions("cell")
    return DeltaProtocolTable.create(spark, path, df=clustered, properties=props)


def ivf_topk_from_index(
    index,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
) -> DataFrame:
    """ANN over a persisted :func:`build_ivf_index` table: no fit, no
    corpus-wide assignment — centroids come from table properties, the
    query block picks its probe cells, and the scan reads ONLY the
    probed cells (literal ``cell IN (...)`` predicate, pushed to the
    parquet footers of the cell-clustered files).

    Result-identical to :func:`ivf_topk` with the same quantizer
    parameters; the fit and assignment costs are paid once at ingest.
    """
    import json as _json

    spark = queries.sparkSession
    props = index.detail()["properties"]
    center_rows = _json.loads(props["mack.ivf.centroids"])
    idx_id_col = props.get("mack.ivf.id_col", "vec_id")
    cents = F.broadcast(
        spark.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in center_rows],
            "cid bigint, cvec array<double>",
        ).select("cid", "cvec", mf.l2_norm(F.col("cvec")).alias("cnrm"))
    )
    probes = _ivf_assign_topn(queries, cents, id_col, vec_col, n_probe)
    # The probe cell list is <= n_cells tiny integers — collect it so
    # the scan filter is a literal IN, the form parquet footer pruning
    # and partition pruning both understand.
    cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    lists = (
        index.to_df()
        .filter(F.col("cell").isin(cells))
        .select(
            F.col(idx_id_col).alias("neighbor_id"),
            F.col("vec").alias("nvec"),
            F.col("nrm").alias("nnrm"),
            "cell",
        )
    )
    return _ivf_rank(probes, lists, k, round_scores)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_err: int = 6,
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage
    scale path (4× smaller than float32, 8× than float64; int8 dot
    kernels are also what production ANN serving uses).

    Per vector: ``scale = max(|x|)``; ``q_i = floor(x_i/scale*127 +
    0.5)`` — the floor(+0.5) form is spelled out so every engine rounds
    identically (no half-even vs half-away ambiguity). Map-only: no
    shuffle, no explode; the per-row array lambdas evaluate interpreted
    but beat paying an exchange for a pure storage transform.

    Returns ``(id_col, scale, qvec, max_abs_err)`` where max_abs_err is
    the reconstruction error bound actually achieved for the vector.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qexpr = F.transform(
        v,
        lambda x: F.when(
            F.col("scale") > 0,
            F.floor(x / F.col("scale") * F.lit(127.0) + F.lit(0.5)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    dq = F.zip_with(
        v,
        F.col("qvec"),
        lambda x, q: F.abs(x - q.cast("double") * F.col("scale") / F.lit(127.0)),
    )
    return (
        df.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
        .withColumn("qvec", qexpr)
        .withColumn(
            "max_abs_err",
            F.round(
                F.when(F.col("scale") > 0, F.array_max(dq)).otherwise(F.lit(0.0)),
                round_err,
            ),
        )
        .select(id_col, "scale", "qvec", "max_abs_err")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane-sign bucket — plus, with ``n_probe > 1``, the flip-1-bit
    neighbor buckets closest to the query's hyperplane margins
    (multi-probe; see :func:`lsh_probe_buckets`). At fixed ``bits``,
    raising ``n_probe`` buys recall for ``n_probe×`` candidate scoring
    without growing corpus-side state — the 100 TB recall knob
    (tests/test_similarity_recall.py measures it against brute force).

    Same output shape as :func:`brute_force_topk`; recall < 1 by design.
    """
    if n_probe > 1:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            mf.l2_norm(F.col(vec_col)).alias("cn"),
            lsh_bucket_int(F.col(vec_col), bits, dim).alias("bucket"),
        )
        # Each corpus vector lives in exactly ONE bucket and a query's
        # probe list is distinct buckets, so no candidate dedup needed.
        q = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("qvec"),
                mf.l2_norm(F.col(vec_col)).alias("qn"),
                F.explode(
                    lsh_probe_buckets(F.col(vec_col), bits, dim, n_probe)
                ).alias("bucket"),
            )
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            mf.l2_norm(F.col(vec_col)).alias("cn"),
            lsh_bucket(F.col(vec_col), bits, dim).alias("bucket"),
        )
        q = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("qvec"),
                mf.l2_norm(F.col(vec_col)).alias("qn"),
                lsh_bucket(F.col(vec_col), bits, dim).alias("bucket"),
            )
        )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (mf.dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", round_scores).alias("cos_sim"),
            "rank",
        )
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 4,
) -> DataFrame:
    """Exact cosine top-k scored by numpy BLAS inside ``mapInPandas`` —
    the vectorized-Python twin of :func:`brute_force_topk` for high
    dimensions, where one ``C @ Q.T`` matmul per Arrow batch beats
    per-pair JVM expression evaluation.

    SCALE: the query block is collected once (queries are small by
    contract — this is batch KNN, not a join of two big sides) and
    shipped in the task closure; each executor scores its corpus
    partition batch-at-a-time and emits only its LOCAL top-k rows per
    query (≤ q·k rows per batch), so the global ranking window sees
    O(batches · q · k) rows, never the n·q score matrix. Arithmetic is
    float64, matching the JVM path to well below the rounded digits.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            sims = (cmat @ qmat.T) / np.outer(cnorm, qnorm)
            sims[cids[:, None] == qids[None, :]] = -np.inf  # self-matches
            top = min(k, sims.shape[0])
            # per-query local top-k within this Arrow batch
            idx = np.argpartition(-sims, top - 1, axis=0)[:top, :]
            out_q, out_n, out_c = [], [], []
            for j in range(sims.shape[1]):
                rows = idx[:, j]
                out_q.extend([qids[j]] * len(rows))
                out_n.extend(cids[rows])
                out_c.extend(sims[rows, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos": out_c}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.filter(F.col("cos") != float("-inf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", round_scores).alias("cos_sim"),
            "rank",
        )
    )


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fix_scale: int = 1_000_000,
) -> DataFrame:
    """Per-group mean embedding (class/cluster centroids) with an
    order-independent exact mean.

    The monitoring primitive behind semantic-dedup drift checks and
    IVF/k-means seeding audits: ``(group, n_vectors, centroid)`` where
    ``centroid[i] = mean(vec[i])`` over the group. Float summation is
    order-dependent, so each component is fixed-pointed
    (``floor(x * fix_scale)`` as decimal) before the sum — the result
    is a pure function of the multiset of vectors, not of partitioning,
    and any engine replays it bit-for-bit (the contract every oracle
    query in this repo holds).

    Plan shape, scale-first: ``posexplode`` → one hash aggregation on
    ``(group, pos)`` (map-side combinable: D rows per vector combine
    into D rows per group per map task) → one tiny aggregation on
    ``group`` to reassemble the ordered array. For billion-vector
    corpora the explode is the same row budget as any dimension-wise
    pass; the alternative (array zip_with fold in a single agg) would
    put a variable-width buffer in the aggregate and fall out of hash
    aggregation entirely.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    exploded = df.select(
        F.col(group_col), F.posexplode(v).alias("pos", "val")
    ).withColumn(
        "fix", F.floor(F.col("val") * F.lit(float(fix_scale))).cast("decimal(38,0)")
    )
    per_dim = exploded.groupBy(group_col, "pos").agg(
        F.sum("fix").alias("sumfix"), F.count(F.lit(1)).alias("n")
    )
    mean = (
        F.col("sumfix").cast("double") / F.col("n").cast("double")
    ) / F.lit(float(fix_scale))
    return (
        per_dim.withColumn("mean", mean)
        .groupBy(group_col)
        .agg(
            F.max("n").alias("n_vectors"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mean"))),
                lambda s: s.getField("mean"),
            ).alias("centroid"),
        )
    )


def embedding_centroids_long(
    df: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fix_scale: int = 1_000_000,
) -> DataFrame:
    """:func:`embedding_centroids` in exploded (long) form:
    ``(group, pos, mean, n_vectors)`` — one row per centroid component
    instead of an ``array<double>`` column.

    Same exact fix-point arithmetic as the array variant (each
    component ``floor(x * fix_scale)`` summed as decimal(38,0), so the
    mean is a pure function of the vector multiset). The mean is
    emitted RAW (no round): it is an exact-integer sum pushed through
    two IEEE divisions, already bit-identical across engines — while
    round-to-6 would land sums of the form ``k*n/2`` exactly on a half
    boundary, where Spark's BigDecimal HALF_UP and other engines' float
    rounding disagree (observed at sf0.01: 0.032011 vs 0.03201).
    The long form is the right shape for SQL interop, joins against
    per-dimension stats, and any consumer that can't handle array
    columns; the array variant remains the library API for in-Spark
    callers.

    SCALE: identical to the array variant minus the final reassembly
    aggregation — one map-combinable hash agg on ``(group, pos)``, no
    ordered collect_list buffers at all, so this form is strictly
    cheaper at any corpus size.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    exploded = df.select(
        F.col(group_col), F.posexplode(v).alias("pos", "val")
    ).withColumn(
        "fix", F.floor(F.col("val") * F.lit(float(fix_scale))).cast("decimal(38,0)")
    )
    mean = (
        F.col("sumfix").cast("double") / F.col("n").cast("double")
    ) / F.lit(float(fix_scale))
    return (
        exploded.groupBy(group_col, "pos")
        .agg(F.sum("fix").alias("sumfix"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col(group_col),
            F.col("pos").cast("long").alias("pos"),
            mean.alias("mean"),
            F.col("n").alias("n_vectors"),
        )
    )


def cluster_balance(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "first",
    seed: int = 42,
    fit_fraction: float | None = None,
    max_iter: int = 10,
    round_share: int = 6,
) -> DataFrame:
    """Semantic cluster population report: ``(cell, n_vectors, share)``
    over the coarse quantizer's cells.

    The topic-balance audit a mixture builder runs before weighting: a
    cell holding 40% of the corpus is an over-represented mode (boiler-
    plate, templated pages); its share feeds straight into
    ``mixing.mix_allocation``-style downweighting. Shares both quantizer
    modes with :func:`ivf_topk` — ``'first'`` (lowest-id seeds) is
    exactly SQL-replayable, ``'kmeans'`` matches the ANN index.

    SCALE: broadcast centroids + map-side argmax (one aggregation keyed
    by vector id, no corpus shuffle), then an ``n_cells``-row rollup;
    the share division joins against a broadcast single-row total.
    """
    cents = _ivf_centroids(
        corpus, n_cells, centroids, id_col, vec_col, seed, fit_fraction, max_iter
    )
    cells = _ivf_corpus_cells(corpus, cents, id_col, vec_col)
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    total = counts.agg(F.sum("n_vectors").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "cell",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / F.col("__total").cast("double"),
            round_share,
        ).alias("share"),
    )


def embedding_diversity(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    fix_scale: int = 1_000_000,
) -> DataFrame:
    """Exact mean pairwise cosine similarity within each group — the
    semantic-diversity score a data-mixing stage reads to detect
    collapsed/redundant slices (low diversity = high mean cosine).

    The naive computation is an O(n²) self-join per group; this uses
    the sum-of-vectors identity on unit-normalized vectors
    ``Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖²`` so the whole thing is one
    O(n·d) dimension-wise aggregation. Components are fix-pointed
    (``floor(u * fix_scale)``, same contract as
    :func:`embedding_centroids`) so every sum is an exact integer —
    the score is a pure function of the vector multiset, replayed
    bit-for-bit by any engine; the identity is computed over the
    fixed-point vectors themselves, so no truncation drift between
    the ‖Σu‖² and Σ‖u‖² terms.

    SCALE: posexplode → hash agg on (group, pos) (map-side combine:
    D rows per group per map task) → tiny agg on group. A 100 TB
    corpus reduces to |groups|×D partial sums; no self-join exists
    at any scale.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    exploded = (
        df.filter(F.col(vec_col).isNotNull())
        .filter(nrm > 0)  # zero vectors have no direction; excluding beats NaN-poisoning n
        .select(F.col(group_col), (F.posexplode(F.transform(v, lambda x: x / nrm))).alias("pos", "val"))
        .withColumn(
            "fix", F.floor(F.col("val") * F.lit(float(fix_scale))).cast("decimal(38,0)")
        )
    )
    per_dim = exploded.groupBy(group_col, "pos").agg(
        F.sum("fix").alias("s"),
        F.sum(F.col("fix") * F.col("fix")).alias("t"),
        F.count(F.lit(1)).alias("n"),
    )
    scale2 = float(fix_scale) * float(fix_scale)
    per_group = per_dim.groupBy(group_col).agg(
        F.sum(F.col("s") * F.col("s")).alias("S"),
        F.sum("t").alias("T"),
        F.max("n").alias("n_vectors"),
    )
    n = F.col("n_vectors").cast("double")
    mean_cos = F.when(
        F.col("n_vectors") > 1,
        F.round(
            (F.col("S") - F.col("T")).cast("double") / (n * (n - F.lit(1.0))) / F.lit(scale2),
            6,
        ),
    )
    return per_group.select(
        group_col,
        "n_vectors",
        mean_cos.alias("mean_pairwise_cos"),
    ).orderBy(group_col)


def append_to_ivf_index(index, new_vectors: DataFrame, vec_col: str = "embedding"):
    """Incrementally ADD vectors to a persisted :func:`build_ivf_index`
    table without refitting: new vectors are assigned to cells with the
    index's OWN stored centroids (table properties), PQ-encoded with
    the stored codebooks when the index carries them, and appended.
    Probes via :func:`ivf_topk_from_index` after the append return
    exactly what a rebuild with the same centroids would — the coarse
    quantizer is frozen at fit time, so assignment is a pure function.

    SCALE: assignment is broadcast-centroids + map-side argmax over the
    batch only; the append writes batch-sized files (no corpus
    rewrite). Two caveats, both standard IVF operations: appended files
    are clustered within themselves but not merged with the old cell
    ranges (re-run :func:`build_ivf_index` as OPTIMIZE when probe scans
    stop pruning), and centroid drift under a shifting distribution
    needs a periodic refit — this function is the fast path between
    those maintenance points.
    """
    import json as _json

    spark = new_vectors.sparkSession
    props = index.detail()["properties"]
    id_col = props.get("mack.ivf.id_col", "vec_id")
    center_rows = _json.loads(props["mack.ivf.centroids"])
    cents = F.broadcast(
        spark.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in center_rows],
            "cid bigint, cvec array<double>",
        ).select("cid", "cvec", mf.l2_norm(F.col("cvec")).alias("cnrm"))
    )
    lists = _ivf_corpus_cells(new_vectors, cents, id_col, vec_col).select(
        F.col("neighbor_id").alias(id_col),
        F.col("nvec").alias("vec"),
        F.col("nnrm").alias("nrm"),
        "cell",
    )
    if "mack.pq.codebooks" in props:
        import numpy as np

        from mack_spark.operators.pq import encode_pq

        books = np.array(_json.loads(props["mack.pq.codebooks"]), dtype=np.float64)
        codes = encode_pq(new_vectors, books, id_col, vec_col).withColumnRenamed(
            id_col, "__cid_join"
        )
        lists = lists.join(codes, F.col(id_col) == F.col("__cid_join")).drop(
            "__cid_join"
        )
    n_cells = int(props.get("mack.ivf.n_cells", "8"))
    clustered = lists.repartitionByRange(
        max(1, min(n_cells, 4)), "cell"
    ).sortWithinPartitions("cell")
    index.append(clustered)
    return index
