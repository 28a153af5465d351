"""Document deduplication: exact, MinHash+LSH, n-gram Jaccard, SimHash.

The LLM-pipeline counterpart of the reference's row-level dedup surface
(kill_duplicates / drop_duplicates_*, reference mack/__init__.py:144-284):
the same detect-then-act shape, but keyed on *content* rather than
column equality.

All hashing is md5-based and deterministic — no RNG — so each operator
has an exact ANSI-SQL oracle. No Python UDFs anywhere: signatures are
computed with array expressions (map-only), and only the candidate
generation joins shuffle.

SCALE (100 TB corpus):

* exact dedup: one groupBy on a 128-bit digest — map-side combine means
  the shuffle carries one row per distinct digest;
* MinHash signatures: map-only (per-row array fold), no shuffle;
* LSH banding: shuffle is one row per (doc, band); candidate pairs come
  from self-joining *buckets*, never the corpus — the O(n²) pair space
  is only materialized inside colliding buckets;
* SimHash: map-only bit signature + banded join on 16-bit chunks;
* n-gram Jaccard: the exact-verification path — run it on LSH survivors,
  not the full corpus (the shingle self-join is the expensive fallback).
"""

from __future__ import annotations

import logging
from functools import reduce
from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mack_spark import functions as mf

logger = logging.getLogger(__name__)


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int = 3
) -> DataFrame:
    """One row per (doc, word-shingle occurrence), via posexplode +
    ``lead`` windows.

    Building shingle arrays per row (transform + slice + array_join) is
    an interpreted O(len·n) allocation storm per document; exploding
    tokens once (codegen) and assembling each shingle from ``lead``
    offsets keeps everything JVM-side. The window's shuffle on
    ``id_col`` is reused by any downstream groupBy on the same key, so
    signature pipelines still pay a single exchange.
    """
    toks = mf.tokens(F.col(text_col))
    # Repartition on the doc id BEFORE exploding tokens: the shingle
    # window (and every downstream per-doc groupBy, by the subset rule)
    # needs hash(id) distribution anyway, so placing the exchange here
    # ships one text per document instead of one row per token. The
    # count is pinned because AQE coalesces by pre-explode shuffle
    # bytes and would serialize the post-explode CPU work.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ex = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.posexplode(toks).alias("pos", "t")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, shingle_size)]
    return (
        ex.select(
            F.col(id_col),
            F.concat_ws(" ", *leads).alias("sh"),
            leads[-1].isNotNull().alias("__complete"),
        )
        .filter(F.col("__complete"))
        .drop("__complete")
    )


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Digest groups with more than one document.

    Returns ``(content_hash, n_docs, min_id)`` per duplicate group.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup_survivors(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor per distinct content digest — min id wins (the
    deterministic-survivor rule of drop_duplicates_pkey, reference
    mack/__init__.py:240, applied to content hashes)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").alias("n_docs"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_size: int = 3,
) -> DataFrame:
    """Per-document MinHash signature as ``mh0..mh{k-1}`` columns.

    Shape: explode shingles once, then k ``min(md5(seed || shingle))``
    aggregates. Two reasons over the pure array-expression form:

    * Spark evaluates higher-order array functions *interpreted* (no
      whole-stage codegen), and inlining the shingle expression into k
      minhash columns recomputes it k times — measured ~10× slower than
      this plan on the documents corpus. md5/concat over exploded rows
      are codegen'd.
    * min() is partial-aggregable: the map side combines to ONE row per
      (doc × k values) before the shuffle, so at 100 TB the exchange
      carries signatures, not shingles.

    Documents with no shingles (< shingle_size tokens) keep NULL
    signatures via the final left join.
    """
    exploded = exploded_shingles(df, text_col, id_col, shingle_size)
    sig = exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )
    return df.select(F.col(id_col)).join(sig, id_col, "left")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    min_est_jaccard: float = 0.0,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    k hashes split into ``bands`` bands of r = k/bands rows; documents
    sharing any band key become a candidate pair; the estimated Jaccard
    (fraction of equal signature components) is attached for filtering.

    ``max_bucket_rows`` is the hot-bucket skew guard: band buckets with
    more members than the cap are EXCLUDED from pair generation (with a
    loud warning counting what was dropped — use :func:`lsh_hot_buckets`
    to inspect them first). A bucket that large means the band key
    carries no discriminative signal — boilerplate or a mirror crawl —
    and on an adversarial corpus one mega-bucket alone turns the
    banding-bounded candidate join quadratic. Members of a dropped
    bucket still pair through their OTHER bands (the usual LSH
    redundancy), so recall degrades gracefully instead of the job
    dying. Default ``None`` keeps the exact uncapped semantics.

    Returns ``(id_a, id_b, est_jaccard)`` with id_a < id_b, distinct.
    """
    r = num_hashes // bands
    assert r * bands == num_hashes, "num_hashes must divide evenly into bands"
    # Persist + eager fill: the signature aggregation (16 min-aggs over
    # the shingle explode) is referenced three times (band explode +
    # both signature re-attach sides) and ReusedExchange does NOT cover
    # it — the references diverge before a common exchange. Measured 3×
    # slower without (10.8s vs 3.5s at sf0.1). One narrow row per doc;
    # MEMORY_AND_DISK spills at scale; RELEASED before return (the
    # result is checkpointed so no consumer re-reads the cache).
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_size).persist()
    sigs.count()
    # Band key: md5 of the concatenated slice of the signature. The pair
    # join carries ONLY ids — the narrow distinct dedups colliding bands
    # cheaply; signatures are re-attached afterwards (Spark reuses the
    # signature aggregation's exchange across the three references).
    band_rows = _band_rows(sigs, id_col, num_hashes, bands).select(
        id_col, "band", "band_key"
    )
    if max_bucket_rows is not None:
        over = (
            band_rows.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__bucket_rows"))
            .filter(F.col("__bucket_rows") > max_bucket_rows)
        )
        stats = over.agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("__bucket_rows"), F.lit(0)).alias("nr"),
        ).collect()[0]
        if stats["nb"]:
            logger.warning(
                "lsh_candidate_pairs: excluding %d hot bucket(s) "
                "(%d member rows) over max_bucket_rows=%d — band keys "
                "this common carry no near-dup signal; members still "
                "pair through their other bands",
                stats["nb"], stats["nr"], max_bucket_rows,
            )
        # the anti side is tiny by construction (at most n/cap buckets
        # can exceed the cap), so this broadcasts
        band_rows = band_rows.join(
            F.broadcast(over.select("band", "band_key")),
            ["band", "band_key"],
            "left_anti",
        )
    a, b = band_rows.alias("a"), band_rows.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"amh{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"bmh{i}") for i in range(num_hashes)],
    )
    est = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"amh{i}") == F.col(f"bmh{i}"), 1).otherwise(0),
        range(1, num_hashes),
        F.when(F.col("amh0") == F.col("bmh0"), 1).otherwise(0),
    )
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (est / F.lit(float(num_hashes))).alias("est_jaccard"))
    )
    if min_est_jaccard > 0:
        out = out.filter(F.col("est_jaccard") >= min_est_jaccard)
    # materialize the (banding-bounded) pair set and release the
    # signature cache — persist blocks otherwise outlive the call for
    # the whole session; checkpoint blocks are GC-cleaned with the
    # result, and iterative consumers (connected_components) re-read
    # the pairs many times for free.
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        sigs.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    min_jaccard: float = 0.5,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs.

    Without ``candidates`` this self-joins the (doc, distinct-shingle)
    relation — correct but quadratic in colliding shingles; at scale,
    pass ``lsh_candidate_pairs`` output to verify only survivors.

    With ``candidates``, the candidate pair set BOUNDS the work: the
    intersection is computed by walking each candidate pair's two
    shingle sets (``cand ⋈ shingles(id_a) ⋈ shingles(id_b)`` on equal
    shingle), never by the quadratic shingle self-join — O(|candidates|
    × shingles-per-doc) regardless of shingle skew, so one hot
    boilerplate shingle cannot blow up a bucket. Candidate pairs with
    an empty intersection drop out (their Jaccard is 0, below any
    positive ``min_jaccard``).

    Returns ``(id_a, id_b, inter, union_size, jaccard)``.
    """
    # Persist + eager fill: three consumers (sizes + both join sides);
    # bench-measured faster persisted in a warm session (the
    # dropDuplicates exchange is partially reusable, but the persisted
    # form still wins once JIT is warm).
    shingled = (
        exploded_shingles(df, text_col, id_col, shingle_size)
        .select(F.col(id_col).alias("id"), F.col("sh"))
        .dropDuplicates(["id", "sh"])
        .persist()
    )
    shingled.count()
    sizes = shingled.groupBy("id").agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        # Candidate-driven plan: explode each candidate pair into its
        # a-side shingles, then equi-join (id_b, sh) to count shingles
        # present in BOTH docs. Both joins are plain equi-joins on
        # (id[, sh]) — no shingle self-join anywhere in the plan.
        cand = candidates.select("id_a", "id_b").distinct()
        ash = shingled.select(F.col("id").alias("id_a"), "sh")
        bsh = shingled.select(F.col("id").alias("id_b"), "sh")
        inter = (
            cand.join(ash, "id_a")
            .join(bsh, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a, b = shingled.alias("a"), shingled.alias("b")
        inter = (
            a.join(
                b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "sa", "n_sh": "n_a"}), F.col("id_a") == F.col("sa"))
        .join(sizes.withColumnsRenamed({"id": "sb", "n_sh": "n_b"}), F.col("id_b") == F.col("sb"))
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("union_size"),
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
    )
    out = out.filter(F.col("jaccard") >= min_jaccard)
    # materialize + release the shingle cache (same leak-avoidance
    # contract as lsh_candidate_pairs)
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        shingled.unpersist()
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    min_containment: float = 0.5,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: ``inter / min(|A|, |B|)`` — the
    asymmetric complement of :func:`ngram_jaccard_pairs`. Jaccard
    dilutes when sizes differ (a benchmark doc pasted verbatim into a
    100× larger page scores ~0.01 Jaccard but 1.0 containment), so
    containment is the decontamination/subset-copy detector (the
    measure Lee et al. arXiv:2107.06499 §3 pair with Jaccard).

    Same candidate-bounded plan as the Jaccard form: pass
    ``lsh_candidate_pairs`` output at scale so the intersection walk is
    O(candidates × shingles/doc), never a shingle self-join.

    Returns ``(id_a, id_b, inter, n_a, n_b, containment)``.
    """
    shingled = (
        exploded_shingles(df, text_col, id_col, shingle_size)
        .select(F.col(id_col).alias("id"), F.col("sh"))
        .dropDuplicates(["id", "sh"])
        .persist()
    )
    shingled.count()
    sizes = shingled.groupBy("id").agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        cand = candidates.select("id_a", "id_b").distinct()
        ash = shingled.select(F.col("id").alias("id_a"), "sh")
        bsh = shingled.select(F.col("id").alias("id_b"), "sh")
        inter = (
            cand.join(ash, "id_a")
            .join(bsh, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a, b = shingled.alias("a"), shingled.alias("b")
        inter = (
            a.join(
                b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    out = (
        inter.join(
            sizes.withColumnsRenamed({"id": "sa", "n_sh": "n_a"}),
            F.col("id_a") == F.col("sa"),
        )
        .join(
            sizes.withColumnsRenamed({"id": "sb", "n_sh": "n_b"}),
            F.col("id_b") == F.col("sb"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "n_a",
            "n_b",
            (F.col("inter") / F.least("n_a", "n_b").cast("double")).alias(
                "containment"
            ),
        )
    )
    out = out.filter(F.col("containment") >= min_containment)
    # materialize the (threshold-bounded) result and RELEASE the
    # shingle cache: persist() blocks outlive the call otherwise,
    # accumulating a full shingle copy per invocation for the session
    # lifetime; localCheckpoint blocks are GC-cleaned with the result.
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        shingled.unpersist()
    return out


def simhash_bits(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 64,
) -> DataFrame:
    """SimHash signature as a ``num_bits``-char '0'/'1' string.

    Per token, bit ``i`` comes from hex digit ``i // 4`` of md5(token)
    (bit ``8 >> (i % 4)``); the signature bit is the majority vote over
    token occurrences. A bit *string* (not a bigint) keeps it exactly
    expressible in any SQL engine without 64-bit overflow concerns.

    Shape: explode tokens (keeping occurrences — votes are weighted by
    token frequency), md5 each once, decode the 16 hex digits with two
    ``conv`` calls into 32-bit ints, then the votes are plain
    shift-and-mask bit sums (``cnt_i``) plus one row count — a '1' bit
    iff ``2*cnt_i >= n`` (algebraically identical to the ±1 majority
    sum ``2*cnt - n >= 0``). Everything stays in whole-stage codegen
    and the sums partial-aggregate map-side, so the shuffle carries one
    65-column row per document. Measured 2.8× over decoding each hex
    digit separately (16 instr+substr string ops per token row) and
    ~10× over an array-fold form (higher-order functions evaluate
    interpreted).
    """
    toks = mf.tokens(F.col(text_col))
    exploded = (
        df.select(F.col(id_col), F.explode(toks).alias("t"))
        .select(id_col, F.md5(F.col("t")).alias("h"))
        .select(
            id_col,
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
        )
    )
    aggs = [F.count("*").alias("n")]
    for i in range(num_bits):
        src, shift = ("hi", 31 - i) if i < 32 else ("lo", 63 - i)
        aggs.append(
            F.sum(F.shiftright(F.col(src), shift).bitwiseAND(F.lit(1))).alias(f"c{i}")
        )
    votes = exploded.groupBy(id_col).agg(*aggs)
    sig = F.concat(
        *[
            F.when(F.col(f"c{i}") * 2 >= F.col("n"), F.lit("1")).otherwise(F.lit("0"))
            for i in range(num_bits)
        ]
    )
    # Docs with zero tokens drop out of the explode; left join restores
    # them with a NULL signature (oracle parity).
    return df.select(F.col(id_col)).join(
        votes.select(id_col, sig.alias("simhash")), id_col, "left"
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    ``chunks`` substrings; pairs sharing any chunk are candidates
    (pigeonhole: hamming <= chunks-1 guarantees a shared chunk); then
    filter by exact Hamming distance.

    Returns ``(id_a, id_b, hamming)``.
    """
    width = 64 // chunks
    # Chunk values are decoded to longs ONCE per doc here — the band
    # join then compares longs, and the exact hamming is 4
    # xor+bit_count ops per pair instead of 64 substring comparisons.
    # Persist + eager fill: the signature aggregation is referenced
    # four times (band explode, both join sides' chunk re-attach); in a
    # warm session the saved recomputation beats the extra
    # materialization job (bench-measured; the reverse holds only on a
    # cold JVM where the extra job pays its own codegen).
    chunked = (
        simhash_bits(df, text_col, id_col)
        .filter(F.col("simhash").isNotNull())
        .select(
            F.col(id_col),
            *[
                F.conv(F.substring("simhash", c * width + 1, width), 2, 10)
                .cast("long")
                .alias(f"ck{c}")
                for c in range(chunks)
            ],
        )
        .persist()
    )
    chunked.count()
    banded = chunked.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), F.col(f"ck{c}").alias("ckv"))
                    for c in range(chunks)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.chunk", "b.ckv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckv") == F.col("b.ckv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    pa = chunked.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"ck{c}").alias(f"ack{c}") for c in range(chunks)],
    )
    pb = chunked.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"ck{c}").alias(f"bck{c}") for c in range(chunks)],
    )
    hamming = reduce(
        lambda acc, c: acc
        + F.bit_count(F.col(f"ack{c}").bitwiseXOR(F.col(f"bck{c}"))),
        range(1, chunks),
        F.bit_count(F.col("ack0").bitwiseXOR(F.col("bck0"))),
    )
    out = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    # materialize + release the chunk cache (same leak-avoidance
    # contract as lsh_candidate_pairs)
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        chunked.unpersist()
    return out


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose distinct
    word n-grams overlap a benchmark/eval set above ``threshold``.

    The training-data hygiene primitive: before a corpus ships, every
    document is screened against the eval benchmarks so test questions
    don't leak into training text (the reference has no analogue; this
    extends SURVEY §2's dedup family to cross-corpus overlap).

    Plan shape, scale-first:

    * both sides explode to DISTINCT (doc, gram) rows — dedup before
      the join so a gram repeated inside one document counts once;
    * the benchmark side collapses to a distinct gram set. Benchmarks
      are small (thousands of eval docs against billions of corpus
      docs), so Catalyst broadcasts it — the corpus side is never
      shuffled by the probe;
    * one left join + per-doc conditional count gives total vs shared
      grams in a single aggregation keyed by the SAME id the explode
      already partitioned by, so the gram→doc rollup reuses that
      exchange.
    """
    corpus_grams = exploded_shingles(df, text_col, id_col, shingle_size).distinct()
    bench_grams = (
        exploded_shingles(benchmark, text_col, id_col, shingle_size)
        .select(F.col("sh").alias("bench_sh"))
        .distinct()
    )
    stats = (
        corpus_grams.join(
            bench_grams, F.col("sh") == F.col("bench_sh"), "left_outer"
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("total_grams"),
            F.count(F.col("bench_sh")).alias("shared_grams"),
        )
    )
    contamination = F.round(
        F.col("shared_grams").cast("double") / F.col("total_grams"), 6
    )
    return (
        stats.withColumn("contamination", contamination)
        .filter(
            (F.col("shared_grams") > 0) & (F.col("contamination") >= threshold)
        )
        .orderBy(id_col)
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
    min_docs: int = 2,
    top: int = 100,
) -> DataFrame:
    """Exact-substring duplication census: the word ``span_words``-grams
    that recur across at least ``min_docs`` distinct documents, ranked
    by spread.

    This is the detection half of exact-substring dedup (Lee et al.,
    *Deduplicating Training Data Makes Language Models Better*,
    arXiv:2107.06499 — their suffix-array pass finds verbatim spans
    repeated across documents; the reference mack has only whole-row
    dedup, mack/__init__.py:144-284). A sliding word window is the
    Spark-native equivalent: every document emits its n-word spans,
    and a single aggregation finds the spans shared across documents.
    Output: ``span, n_docs, n_occurrences`` with a full deterministic
    order (spread desc, occurrences desc, span asc) limited to ``top``.

    SCALE: the explode produces ~one row per corpus token — the same
    budget as any tokenizing pass — and the aggregation is map-side
    combinable (spans repeat heavily by construction). ``top`` rides
    TakeOrderedAndProject: per-partition top-k, no global sort. At
    100 TB, run it AFTER near-dup removal and raise ``span_words`` to
    sharpen selectivity; for span *removal* (not census) compose with
    ``winnow_fingerprints``'s positional output to locate offsets.
    """
    if span_words < 2:
        raise ValueError(f"span_words must be >= 2, got {span_words}")
    # Same lead-window shingle assembly as exploded_shingles (explode
    # tokens once, codegen'd concat_ws over lead offsets) but on the
    # RAW space-split tokens — the census reports verbatim spans, not
    # the normalized tokens() vocabulary. Building span arrays per row
    # (transform+slice+array_join) evaluates interpreted and measured
    # ~1.7x slower at sf0.1.
    exploded = _word_spans(df, text_col, id_col, span_words)
    return (
        exploded.groupBy("span")
        .agg(
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span"))
        .limit(top)
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup, removal half (Lee et al., arXiv:2107.06499):
    delete every word whose position is covered by a ``span_words``-gram
    that also appears in ``min_docs``-1 other documents — except in the
    span's OWNER document (lowest id containing it), which keeps its
    copy. Returns ``(id_col, text_stripped, n_removed)`` for every
    input document (fully-covered documents come back with empty text,
    ready for a length filter).

    Deterministic by construction: ownership is min-id, coverage is a
    set union of positions, reassembly is position-ordered — no RNG,
    no partitioning dependence.

    Plan shape, scale-first: tokens and spans explode once off the same
    doc-partitioned exchange (the census budget); duplicated spans
    collapse to one row per distinct span (map-side combinable); the
    coverage join is span-keyed and emits ``span_words`` positions per
    NON-OWNER occurrence only; removal is a left-anti join on (doc,
    pos); reassembly is one per-doc aggregation. Every shuffle key is
    narrow (doc id, span hash, (doc,pos)); nothing is O(n²).
    """
    if span_words < 2:
        raise ValueError(f"span_words must be >= 2, got {span_words}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "t"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, span_words)]
    spans = (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *leads).alias("span"),
            leads[-1].isNotNull().alias("__complete"),
        )
        .filter(F.col("__complete"))
        .drop("__complete")
    )
    dup = (
        spans.select("span", id_col)
        .distinct()
        .groupBy("span")
        .agg(F.min(F.col(id_col)).alias("owner"), F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("span", "owner")
    )
    covered = (
        spans.join(dup, "span")
        .filter(F.col(id_col) != F.col("owner"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(span_words - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "t"))),
                lambda s: s.getField("t"),
            ),
            " ",
        ).alias("text_stripped"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    orig = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("__n_orig"),
    )
    return orig.join(reassembled, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("text_stripped"), F.lit("")).alias("text_stripped"),
        (F.col("__n_orig") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


def _band_rows(sigs: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_key, mh0..mh{k-1}) rows from a signature frame;
    NULL-keyed bands (shingle-less docs) are dropped so they can't
    collide with each other."""
    r = num_hashes // bands
    rows = sigs.select(
        F.col(id_col),
        *[F.col(f"mh{i}") for i in range(num_hashes)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # NULL-propagating: concat_ws over all-NULL mh columns
                        # returns '' not NULL, so an unguarded md5 would pool
                        # every shingle-less doc into one md5('') bucket (see
                        # lsh_candidate_pairs). Signatures are all-NULL
                        # together, so probing mh{b*r} suffices.
                        F.when(
                            F.col(f"mh{b * r}").isNotNull(),
                            F.md5(
                                F.concat_ws(
                                    "|", *[F.col(f"mh{b * r + j}") for j in range(r)]
                                )
                            ),
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, "bk.band", "bk.band_key", *[f"mh{i}" for i in range(num_hashes)]
    )
    return rows.filter(F.col("band_key").isNotNull())


def lsh_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    max_bucket_rows: int = 256,
) -> DataFrame:
    """The inspection half of the hot-bucket skew guard: every LSH band
    bucket whose membership exceeds ``max_bucket_rows``, as ``(band,
    band_key, n_docs)`` ordered largest-first. Run this BEFORE choosing
    a cap for :func:`lsh_candidate_pairs(max_bucket_rows=...)` — a fat
    head here means boilerplate or a mirror crawl, and those buckets
    are exactly the ones that would turn the candidate join quadratic
    on an adversarial corpus (`near_dup_bits_for`'s uniformity
    assumption failing).

    SCALE: one banding pass + one count aggregation on (band,
    band_key); output is bounded by n/cap buckets regardless of skew.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_size)
    return (
        _band_rows(sigs, id_col, num_hashes, bands)
        .select(id_col, "band", "band_key")
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_rows)
        .orderBy(F.col("n_docs").desc(), F.col("band").asc(), F.col("band_key").asc())
    )


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_size: int = 3,
    n_files: int | None = None,
):
    """Persist banded-MinHash dedup state at INGEST time (the text-dedup
    twin of :func:`~mack_spark.operators.similarity.build_ivf_index`):
    one row per (doc, band) holding the band bucket key AND the full
    signature, written as a Delta-protocol table range-clustered on
    ``(band, band_key)`` with the LSH parameters in table properties.

    Why this shape scales: an incremental ingest batch only ever joins
    on ``(band, band_key)``, and the clustering gives every index file
    a disjoint bucket range — the probe's bucket keys prune whole files
    via parquet footer min/max, so a 1k-doc batch against a 100 TB
    corpus reads only the colliding buckets' files, and the corpus is
    never re-shingled.  Denormalizing the signature into each band row
    costs ``bands``× storage on a narrow frame but makes the probe
    self-contained (no second corpus-wide join to re-attach signatures
    for the Jaccard estimate).  Re-run after large appends, like
    OPTIMIZE.
    """
    from mack_spark.sources.delta_log import DeltaProtocolTable

    r = num_hashes // bands
    assert r * bands == num_hashes, "num_hashes must divide evenly into bands"
    sigs = minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_size)
    rows = _band_rows(sigs, id_col, num_hashes, bands)
    files = n_files or 16
    clustered = rows.repartitionByRange(files, "band", "band_key").sortWithinPartitions(
        "band", "band_key"
    )
    props = {
        "mack.lsh.id_col": id_col,
        "mack.lsh.num_hashes": str(num_hashes),
        "mack.lsh.bands": str(bands),
        "mack.lsh.shingle_size": str(shingle_size),
    }
    return DeltaProtocolTable.create(
        corpus.sparkSession, path, df=clustered, properties=props
    )


def lsh_pairs_against_index(
    index,
    batch: DataFrame,
    text_col: str = "text",
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """Near-duplicate candidates between a NEW batch and a persisted
    :func:`build_lsh_index` corpus — the incremental-ingest dedup path.

    Signatures are computed only for the batch (the corpus side reads
    the clustered index); colliding bucket rows carry both signatures,
    so the Jaccard estimate folds into one ``groupBy(new_id, old_id)``
    right after the bucket join — no re-join, no corpus re-shingle.
    Returns ``(new_id, old_id, est_jaccard)``; batch and corpus ids
    must be disjoint (same contract as contamination_check).

    SCALE: the join shuffles only the batch's band rows plus the
    colliding index rows; at 1000 executors the index side is a
    file-pruned parquet scan, not a recompute.
    """
    props = index.detail()["properties"]
    id_col = props["mack.lsh.id_col"]
    num_hashes = int(props["mack.lsh.num_hashes"])
    bands = int(props["mack.lsh.bands"])
    shingle_size = int(props["mack.lsh.shingle_size"])

    sigs_new = minhash_signatures(batch, text_col, id_col, num_hashes, shingle_size)
    new_rows = _band_rows(sigs_new, id_col, num_hashes, bands).select(
        F.col(id_col).alias("new_id"),
        "band",
        "band_key",
        *[F.col(f"mh{i}").alias(f"amh{i}") for i in range(num_hashes)],
    )
    old_rows = index.to_df().select(
        F.col(id_col).alias("old_id"),
        "band",
        "band_key",
        *[F.col(f"mh{i}").alias(f"bmh{i}") for i in range(num_hashes)],
    )
    est = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"amh{i}") == F.col(f"bmh{i}"), 1).otherwise(0),
        range(1, num_hashes),
        F.when(F.col("amh0") == F.col("bmh0"), 1).otherwise(0),
    )
    out = (
        new_rows.join(old_rows, ["band", "band_key"])
        .select("new_id", "old_id", (est / F.lit(float(num_hashes))).alias("est"))
        .groupBy("new_id", "old_id")
        .agg(F.first("est").alias("est_jaccard"))
    )
    if min_est_jaccard > 0:
        out = out.filter(F.col("est_jaccard") >= min_est_jaccard)
    return out


def _word_spans(df: DataFrame, text_col: str, id_col: str, span_words: int) -> DataFrame:
    """(id, span) rows: every sliding ``span_words``-word window of the
    RAW space-split text (verbatim spans, not normalized tokens) — the
    lead-window assembly shared by the span census and decontamination.
    One shuffle on the doc id; concat_ws over lead offsets stays in
    whole-stage codegen."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ex = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "t"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, span_words)]
    return (
        ex.select(
            F.col(id_col),
            F.concat_ws(" ", *leads).alias("span"),
            leads[-1].isNotNull().alias("__complete"),
        )
        .filter(F.col("__complete"))
        .drop("__complete")
    )


def span_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """Verbatim benchmark leakage: for every benchmark document, how
    many of its distinct ``span_words``-word spans appear verbatim
    anywhere in the training corpus, and how many corpus documents are
    implicated.

    The exact-substring complement of the signature-level
    :func:`contamination_check` (MinHash finds near-dup *documents*;
    this finds copied *passages* — the decontamination criterion of
    Lee et al., arXiv:2107.06499 §4, and the n-gram overlap checks in
    GPT-3/PaLM appendices). Output per benchmark doc (docs shorter
    than ``span_words`` have no spans and are absent):
    ``bench_id, n_spans, n_leaked, leak_ratio, corpus_docs_hit``.

    SCALE: the corpus side is one explode + one id-partitioned window
    — the same budget as any shingling pass — then a BROADCAST join
    against the benchmark's distinct spans (benchmarks are small by
    contract, same as contamination_check); the corpus never shuffles
    on span. Aggregation is per benchmark doc — bounded by the
    benchmark size, not the corpus.
    """
    if span_words < 2:
        raise ValueError(f"span_words must be >= 2, got {span_words}")
    bench_spans = (
        _word_spans(benchmark, text_col, id_col, span_words)
        .select(F.col(id_col).alias("bench_id"), "span")
        .distinct()
    )
    # No .distinct() here: it would be a corpus-wide shuffle on
    # (corpus_id, span), and it's redundant — both downstream aggregates
    # are countDistinct, so duplicate corpus spans can't change either
    # count; they only multiply broadcast-join probe rows, map-side.
    corpus_spans = _word_spans(corpus, text_col, id_col, span_words).select(
        F.col(id_col).alias("corpus_id"), "span"
    )
    n_spans = bench_spans.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_spans"))
    hits = (
        corpus_spans.join(F.broadcast(bench_spans), "span")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("span").alias("n_leaked"),
            F.countDistinct("corpus_id").alias("corpus_docs_hit"),
        )
    )
    return (
        n_spans.join(hits, "bench_id", "left")
        .select(
            "bench_id",
            "n_spans",
            F.coalesce(F.col("n_leaked"), F.lit(0)).alias("n_leaked"),
            F.round(
                F.coalesce(F.col("n_leaked"), F.lit(0))
                / F.col("n_spans").cast("double"),
                6,
            ).alias("leak_ratio"),
            F.coalesce(F.col("corpus_docs_hit"), F.lit(0)).alias("corpus_docs_hit"),
        )
        .orderBy("bench_id")
    )


def append_to_lsh_index(index, batch: DataFrame, text_col: str = "text"):
    """Incrementally ADD a batch to a persisted :func:`build_lsh_index`
    table — the accept-side of the incremental-ingest loop (probe with
    :func:`lsh_pairs_against_index`, drop dups, then append survivors
    here). Band rows are computed with the index's OWN stored
    parameters (hash count, bands, shingle size from table properties),
    so probe results after the append are identical to a full rebuild
    over corpus ∪ batch — banding is per-document, there is no global
    fit to go stale.

    SCALE: the append writes only the batch's band rows (no corpus
    rewrite, no re-shingle). Appended files aren't range-clustered with
    the original ones, so footer pruning degrades gradually as appends
    accumulate; re-run :func:`build_lsh_index` (the OPTIMIZE analogue)
    when probe scans start reading too many files.
    """
    props = index.detail()["properties"]
    id_col = props["mack.lsh.id_col"]
    num_hashes = int(props["mack.lsh.num_hashes"])
    bands = int(props["mack.lsh.bands"])
    shingle_size = int(props["mack.lsh.shingle_size"])
    sigs = minhash_signatures(batch, text_col, id_col, num_hashes, shingle_size)
    rows = _band_rows(sigs, id_col, num_hashes, bands)
    clustered = rows.repartitionByRange(
        max(1, min(4, bands)), "band", "band_key"
    ).sortWithinPartitions("band", "band_key")
    index.append(clustered)
    return index
