"""embedding_near_dup_pairs: the numpy kernel against a pure-Python
reference, bit-identity with the Spark ``mf.dot`` / ``mf.l2_norm``
expressions, and the row contract (which rows may pair at all)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mack_spark import functions as mf
from mack_spark.operators.similarity import (
    embedding_near_dup_pairs,
    hyperplane_components,
    lsh_bucket_int,
    lsh_probe_buckets,
    near_dup_bits_for,
)

DIM = 16
SCHEMA = "vec_id long, embedding array<float>"


def _corpus(n_base=150, n_copies=150, seed=11):
    """Random float32 vectors plus planted noisy copies of some of them."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, DIM)).astype(np.float32)
    src = rng.integers(0, n_base, n_copies)
    noise = 0.15 * rng.standard_normal((n_copies, DIM)).astype(np.float32)
    vecs = np.concatenate([base, base[src] + noise]).astype(np.float32)
    return [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]


def _fold(x, y):
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + a * b
    return acc


def _reference(rows, threshold, bits, n_probe):
    """Pure-Python pairs under the operator's definition: a pair (a, b)
    is a candidate when b's home bucket is among a's probe buckets and
    a.id < b.id; it is kept when its cosine is >= threshold."""
    planes = [hyperplane_components(b, DIM) for b in range(bits)]
    valid = []
    for i, v in rows:
        if i is None or v is None or len(v) != DIM:
            continue
        if any(x is None or not math.isfinite(x) for x in v):
            continue
        nrm = math.sqrt(_fold(v, v))
        if nrm == 0:
            continue
        margins = [_fold(v, p) for p in planes]
        home = sum(1 << b for b, m in enumerate(margins) if m >= 0)
        flips = sorted(range(bits), key=lambda b: (abs(margins[b]), b))
        probes = [home] + [home ^ (1 << b) for b in flips[: n_probe - 1]]
        valid.append((i, v, nrm, home, probes))
    out = []
    for ia, va, na, _, probes in valid:
        for ib, vb, nb, home_b, _ in valid:
            if ia < ib and home_b in probes:
                cos = _fold(va, vb) / (na * nb)
                if cos >= threshold:
                    out.append((ia, ib, cos))
    return sorted(out)


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.cos_sim) for r in df.collect())


@pytest.mark.parametrize(
    "bits,n_probe", [(4, 1), (4, 3), (None, 1), (None, 3)]
)
def test_matches_python_reference(spark, bits, n_probe):
    rows = _corpus()
    df = spark.createDataFrame(rows, SCHEMA).repartition(3)
    got = _pairs(
        embedding_near_dup_pairs(
            df, threshold=0.8, bits=bits, dim=DIM, n_probe=n_probe,
            target_bucket_rows=32,
        )
    )
    # Python floats see exactly the float32 values Spark stores.
    f32 = [(i, [float(np.float32(x)) for x in v]) for i, v in rows]
    want = _reference(
        f32, 0.8, bits or near_dup_bits_for(len(rows), 32), n_probe
    )
    assert want, "the corpus must hold pairs above the threshold"
    assert [p[:2] for p in got] == [p[:2] for p in want]
    assert all(abs(g[2] - w[2]) <= 5e-5 + 1e-12 for g, w in zip(got, want))


@pytest.mark.parametrize("n_probe", [1, 3])
def test_candidate_cosines_bit_identical_to_spark_expressions(spark, n_probe):
    """threshold=-1.0 keeps every candidate; each score must equal the
    Spark expression mf.dot(a,b) / (mf.l2_norm(a) * mf.l2_norm(b)) over
    the same candidates (both rounded at 20 digits, which keeps every
    bit of a double near the cosines compared here)."""
    df = spark.createDataFrame(_corpus(n_base=120, n_copies=80), SCHEMA)
    got = _pairs(
        embedding_near_dup_pairs(
            df, threshold=-1.0, bits=3, dim=DIM, n_probe=n_probe,
            round_scores=20,
        )
    )
    vec = F.col("embedding")
    home = df.select(
        F.col("vec_id").alias("id_b"), vec.alias("vb"),
        lsh_bucket_int(vec, 3, DIM).alias("bucket"),
    )
    probing = df.select(
        F.col("vec_id").alias("id_a"), vec.alias("va"),
        F.explode(lsh_probe_buckets(vec, 3, DIM, n_probe)).alias("bucket"),
    )
    cos = mf.dot(F.col("va"), F.col("vb")) / (
        mf.l2_norm(F.col("va")) * mf.l2_norm(F.col("vb"))
    )
    want = _pairs(
        probing.join(home, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 20).alias("cos_sim"))
    )
    assert len(want) > 1000
    assert got == want


def _edge_rows():
    """Rows around the first hyperplane, so with ``bits=1`` every valid
    row shares the bucket whose bit is set."""
    hp = [float(x) for x in hyperplane_components(0, DIM)]
    return hp, [
        (1, hp),
        (1, [2.0 * x for x in hp]),          # duplicate id
        (2, [4.0 * x for x in hp]),
        (3, None),                           # NULL embedding
        (4, [None] + hp[1:]),                # NULL element
        (5, hp[:-1]),                        # too short
        (6, hp + [1.0]),                     # too long ...
        (7, hp + [1.0]),                     # ... twice, identical
        (None, hp),                          # NULL id
    ]


def test_row_contract_edge_cases(spark):
    _, rows = _edge_rows()
    df = spark.createDataFrame(rows, SCHEMA)
    for bits, n_probe in [(1, 1), (1, 2), (None, 1)]:
        got = _pairs(
            embedding_near_dup_pairs(
                df, threshold=0.9, bits=bits, dim=DIM, n_probe=n_probe
            )
        )
        # Both id-1 rows pair with id 2; equal ids never pair.
        assert got == [(1, 2, 1.0), (1, 2, 1.0)], (bits, n_probe)


def test_empty_and_single_row(spark):
    empty = spark.createDataFrame([], SCHEMA)
    out = embedding_near_dup_pairs(empty, threshold=0.5, dim=DIM)
    assert out.columns == ["id_a", "id_b", "cos_sim"]
    assert out.collect() == []
    one = spark.createDataFrame([(1, [1.0] * DIM)], SCHEMA)
    assert embedding_near_dup_pairs(one, threshold=-1.0, dim=DIM).collect() == []


@pytest.mark.parametrize("bits,n_probe", [(1, 1), (1, 2), (None, 1)])
def test_zero_norm_row_yields_no_pairs(spark, bits, n_probe):
    hp, _ = _edge_rows()
    rows = [(1, [0.0] * DIM), (2, hp), (3, [2.0 * x for x in hp])]
    df = spark.createDataFrame(rows, SCHEMA)
    got = _pairs(
        embedding_near_dup_pairs(
            df, threshold=0.5, bits=bits, dim=DIM, n_probe=n_probe
        )
    )
    assert got == [(2, 3, 1.0)]


@pytest.mark.parametrize("bits,n_probe", [(1, 1), (1, 2), (2, 3)])
def test_nan_row_yields_no_pairs(spark, bits, n_probe):
    hp, _ = _edge_rows()
    rows = [
        (1, [float("nan")] * DIM),
        (2, hp),
        (3, [2.0 * x for x in hp]),
        (4, [float("nan")] + hp[1:]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = _pairs(
        embedding_near_dup_pairs(
            df, threshold=0.5, bits=bits, dim=DIM, n_probe=n_probe
        )
    )
    assert got == [(2, 3, 1.0)]
