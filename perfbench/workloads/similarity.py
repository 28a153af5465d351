"""The embedding near-duplicate operator, as ``lake_scan`` calls it.

``embedding_near_dup_pairs`` (``operators.similarity``) runs over an
in-memory DataFrame of a seeded embedding corpus, so it bypasses the
table layer. The call is timed twice: the call itself (plan build plus
any eager work the operator does) and the materialization of its result.
The corpus carries planted near copies, so the check knows which pairs
exist: the pair set is compared with the planted pairs and every cosine
score with the one recomputed in numpy from the generated rows.
"""

from __future__ import annotations

import numpy as np

import gen

from mack_spark.operators import embedding_near_dup_pairs

N_VECS = 2_000
COS_THRESHOLD = 0.95
KINDS = ["embedding_near_dup"]
# Hyperplane bucketing is probabilistic: a planted copy can land in
# another bucket than its original, so recall is checked against a floor.
MIN_RECALL = 0.8


class Similarity:
    """The operator half of ``lake_scan``: the corpus, one operator call
    per operation, the per-layer timings and the output check."""

    def __init__(self, spark, tracer, rng):
        self.spark, self.tracer = spark, tracer
        self.vecs_pd, self.planted = gen.embeddings(rng, N_VECS)
        self.results = []  # the pairs of every call

    def setup(self) -> None:
        self.vecs = self.spark.createDataFrame(self.vecs_pd).cache()
        self.vecs.count()

    def step(self) -> int:
        """Run one operation; returns the rows it processed."""
        with self.tracer.span("operators.embedding_near_dup_pairs.call"):
            out = embedding_near_dup_pairs(self.vecs, threshold=COS_THRESHOLD, bits=6)
        with self.tracer.span("operators.embedding_near_dup_pairs.exec"):
            self.results.append(out.toPandas())
        return N_VECS

    def layer_metrics(self) -> dict:
        out = {}
        for part in ("call", "exec"):
            ds = [s.dur for s in self.tracer.spans
                  if s.name == f"operators.embedding_near_dup_pairs.{part}"]
            if ds:
                out[f"embedding_near_dup_pairs.{part}_s"] = (float(np.median(ds)), "s")
        return out

    def check(self):
        x = np.stack(self.vecs_pd.embedding.to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        planted = _closure(self.planted)
        bad = []
        for out in self.results:
            for a, b, c in zip(out.id_a, out.id_b, out.cos_sim):
                if abs(float(x[a] @ x[b]) - c) > 1e-3 or c < COS_THRESHOLD:
                    bad.append(f"cosine ({a},{b}) {c}")
                    break
            got = {(int(min(a, b)), int(max(a, b))) for a, b in zip(out.id_a, out.id_b)}
            if got - planted:
                bad.append(f"{len(got - planted)} pairs not planted,"
                           f" e.g. {sorted(got - planted)[:2]}")
            if len(got & planted) < MIN_RECALL * len(planted):
                bad.append(f"found {len(got & planted)} of {len(planted)} planted pairs")
        return [(f"{len(self.results)} near-duplicate pair sets vs planted pairs and"
                 " recomputed cosines", bool(self.results) and not bad,
                 "; ".join(bad[:3]) or "all match")]


def _closure(pairs):
    """Every pair among an original and its copies: two copies of one
    original are near copies of each other too."""
    groups = {}
    for orig, copy in pairs:
        groups.setdefault(orig, {orig}).add(copy)
    return {(a, b) for g in groups.values() for a in g for b in g if a < b}
