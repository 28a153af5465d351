"""Property-based tests (hypothesis) — the reference has none
(SURVEY §5), so these are rebuild-only hardening: driver-side
formatting invariants plus seeded distributed-equivalence checks."""

import math
import random

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mack_spark.fmt import humanize_bytes, humanize_bytes_binary


@given(st.integers(min_value=0, max_value=10**18))
@settings(max_examples=200, deadline=None)
def test_humanize_bytes_parses_back_close(n):
    s = humanize_bytes(n)
    num, unit = s.split(" ")
    scale = {"B": 1, "kB": 1e3, "MB": 1e6, "GB": 1e9, "TB": 1e12, "PB": 1e15}[unit]
    back = float(num) * scale
    # 2-decimal formatting: relative error bounded by half an ulp of
    # the printed value plus the 0.9 threshold band
    assert back == 0 if n == 0 else math.isclose(back, n, rel_tol=6e-3)


@given(st.integers(min_value=0, max_value=10**18))
@settings(max_examples=200, deadline=None)
def test_humanize_monotone_unit_order(n):
    # bigger byte counts never print a smaller unit than smaller counts
    units = ["B", "kB", "MB", "GB", "TB", "PB"]
    u1 = humanize_bytes(n).split(" ")[1]
    u2 = humanize_bytes(n * 2 + 1).split(" ")[1]
    assert units.index(u2) >= units.index(u1)


@given(st.integers(min_value=0, max_value=10**18))
@settings(max_examples=100, deadline=None)
def test_binary_variant_never_exceeds_si_value(n):
    # same n: dividing by 1024-powers yields a number <= the SI one
    si = float(humanize_bytes(n).split(" ")[0])
    bi = float(humanize_bytes_binary(n).split(" ")[0])
    unit_si = humanize_bytes(n).split(" ")[1]
    unit_bi = humanize_bytes_binary(n).split(" ")[1]
    if unit_si == unit_bi:
        assert bi <= si


def test_salted_agg_equals_plain_agg_on_random_skew(spark):
    # heavily skewed synthetic keys: the salted two-phase plan must be
    # bit-identical to the naive single-phase aggregation
    rng = random.Random(7)
    rows = [
        (
            "hot" if rng.random() < 0.9 else f"cold{rng.randrange(50)}",
            rng.randrange(10**9),
            rng.uniform(-1000, 1000),
        )
        for _ in range(5000)
    ]
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double")
    fp = F.floor(F.col("value") * F.lit(10000.0)).cast("decimal(38,0)")
    plain = {
        r["event_type"]: (r["n"], r["tv"])
        for r in df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(fp).cast("double") / F.lit(10000.0)).alias("tv"),
        )
        .collect()
    }
    salted = {
        r["event_type"]: (r["n"], r["tv"])
        for r in df.withColumn("salt", F.pmod(F.hash("event_id"), F.lit(64)))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("pc"), F.sum(fp).alias("pv"))
        .groupBy("event_type")
        .agg(
            F.sum("pc").alias("n"),
            (F.sum("pv").cast("double") / F.lit(10000.0)).alias("tv"),
        )
        .collect()
    }
    assert salted == plain


def test_exact_percentiles_match_sorted_ranks(spark):
    from mack_spark.operators import exact_percentiles

    rng = random.Random(11)
    vals = [rng.uniform(0, 10**6) for _ in range(4321)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["p"]: r["value"]
        for r in exact_percentiles(df, "x", (0.1, 0.5, 0.9)).collect()
    }
    s = sorted(vals)
    for p in (0.1, 0.5, 0.9):
        assert got[p] == s[math.ceil(p * len(s)) - 1]


def test_salted_left_join_keeps_unmatched_once(spark):
    from mack_spark.operators import salted_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (99, "zz")], "k long, lv string"
    )
    right = spark.createDataFrame([(1, "X"), (2, "Y")], "rk long, rv string")
    got = sorted(
        map(tuple, salted_join(left, right, "k", "rk", num_salts=4, how="left")
            .select("k", "lv", "rv").collect())
    )
    assert got == [(1, "a", "X"), (1, "b", "X"), (2, "c", "Y"), (99, "zz", None)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, "k", "rk", how="full")


# ---------------------------------------------------------- pruned merge
# The file-pruned MERGE (DeltaProtocolTable.merge via
# drop_duplicates_pkey) must be result-equivalent to a full rewrite for
# ANY physical layout: random clustering (overlapping file ranges ->
# every file touched), range clustering, NULL duplication keys.


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=6, deadline=None)
# slow (~12 s): randomized pruning-equivalence sweep
@pytest.mark.slow
def test_file_pruned_merge_equals_full_rewrite(seed):
    import tempfile

    from pyspark.sql import SparkSession

    from mack_spark.dedup import drop_duplicates_pkey, drop_duplicates_pkey_post
    from mack_spark.sources.delta_log import DeltaProtocolTable

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).getOrCreate()
    rng = random.Random(seed)
    n = rng.randint(20, 80)
    null_every = rng.choice([0, 7])  # some runs have NULL dup keys
    rows = []
    for i in range(n):
        c1 = rng.randint(0, 14)
        rows.append(
            (i, None if (null_every and c1 % null_every == 0) else c1)
        )
    df = spark.createDataFrame(rows, "pkey int, c1 int")
    layout = rng.choice(["random", "ranged"])
    if layout == "ranged":
        df = df.repartitionByRange(rng.randint(2, 5), "c1")
    else:
        df = df.repartition(rng.randint(2, 5))

    with tempfile.TemporaryDirectory() as d:
        pruned = DeltaProtocolTable.create(spark, d + "/p", df)
        full = DeltaProtocolTable.create(spark, d + "/f", df)
        drop_duplicates_pkey(pruned, "pkey", ["c1"])
        full.overwrite(drop_duplicates_pkey_post(full.to_df(), ["pkey"], ["c1"]))
        a = sorted(tuple(r) for r in pruned.to_df().collect())
        e = sorted(tuple(r) for r in full.to_df().collect())
        assert a == e, f"seed={seed} layout={layout}: {a} != {e}"


# ------------------------------------------------------------------ SCD2
# Randomized SCD2 upserts vs an independent Python model of the
# reference's semantics (null-unsafe <> change detection, idempotent
# re-sends, close+insert pairs, brand-new keys insert as current).


def _scd2_expected(base_rows, updates, eff):
    """Expected post-state computed directly from the SCD2 rules
    (reference mack/__init__.py:99-140), no Spark involved."""
    out = [dict(r) for r in base_rows]
    current = {r["pkey"]: r for r in out if r["is_current"]}
    for u in updates:
        b = current.get(u["pkey"])
        if b is None:
            out.append(
                dict(pkey=u["pkey"], attr=u["attr"], is_current=True,
                     effective_time=eff, end_time=None)
            )
            continue
        # null-unsafe <>: a change registers only when both sides are
        # non-NULL and differ
        a, bb = u["attr"], b["attr"]
        changed = a is not None and bb is not None and a != bb
        if changed:
            b["is_current"] = False
            b["end_time"] = eff
            out.append(
                dict(pkey=u["pkey"], attr=u["attr"], is_current=True,
                     effective_time=eff, end_time=None)
            )
    return out


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=6, deadline=None)
# slow (~16 s): randomized model check; deterministic SCD2 tests cover the merge contract
@pytest.mark.slow
def test_scd2_random_batches_match_model(seed):
    import datetime
    import tempfile

    from pyspark.sql import SparkSession

    import mack_spark as mk
    from mack_spark.sources.delta_log import DeltaProtocolTable

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).getOrCreate()
    rng = random.Random(seed)
    attrs = [None, "a", "b", "c", "d"]
    t0 = datetime.datetime(2020, 1, 1)
    eff = datetime.datetime(2021, 6, 1)
    n_keys = rng.randint(3, 12)
    base_rows = [
        dict(pkey=k, attr=rng.choice(attrs), is_current=True,
             effective_time=t0, end_time=None)
        for k in range(n_keys)
    ]
    # updates: resends, changes, NULL transitions, brand-new keys;
    # one row per key (the reference's MERGE source contract)
    upd_keys = rng.sample(range(n_keys + 5), rng.randint(1, n_keys + 3))
    updates = [dict(pkey=k, attr=rng.choice(attrs)) for k in upd_keys]

    schema = ("pkey int, attr string, is_current boolean, "
              "effective_time timestamp, end_time timestamp")
    with tempfile.TemporaryDirectory() as d:
        t = DeltaProtocolTable.create(
            spark, d + "/t", spark.createDataFrame(
                [tuple(r.values()) for r in base_rows], schema)
        )
        mk.type_2_scd_generic_upsert(
            t,
            spark.createDataFrame(
                [(u["pkey"], u["attr"], eff) for u in updates],
                "pkey int, attr string, effective_time timestamp",
            ),
            "pkey", ["attr"], "is_current", "effective_time", "end_time",
        )
        got = sorted(
            (r.pkey, r.attr, r.is_current, r.effective_time, r.end_time)
            for r in t.to_df().collect()
        )
        want = sorted(
            (r["pkey"], r["attr"], r["is_current"], r["effective_time"], r["end_time"])
            for r in _scd2_expected(base_rows, updates, eff)
        )
        assert got == want, f"seed={seed}"


@given(
    st.integers(min_value=1, max_value=10**12),
    st.integers(min_value=16, max_value=4096),
)
@settings(max_examples=200, deadline=None)
def test_near_dup_bits_bucket_target_band(n, target):
    """bits = ceil(log2(n/target)) keeps the expected bucket population
    in (target/2, target] whenever the corpus exceeds the target, and
    is monotone non-decreasing in n."""
    from mack_spark.operators.similarity import near_dup_bits_for

    bits = near_dup_bits_for(n, target)
    assert bits >= 1
    if n > target and bits > 1:
        expected = n / 2**bits
        assert expected <= target + 1e-9
        assert expected > target / 2 - 1e-9
    assert near_dup_bits_for(2 * n, target) >= bits


def test_event_debounce_conservation_random(spark):
    """∀ random event streams: every event is either kept or counted in
    exactly one kept head's n_suppressed."""
    from mack_spark.operators.sessionize import event_debounce

    rng = random.Random(1234)
    rows = []
    for eid in range(400):
        rows.append(
            (
                eid,
                rng.randrange(5),
                rng.choice(["a", "b"]),
                f"2024-01-01 {rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    kept = event_debounce(df, debounce_seconds=600).collect()
    assert len(kept) + sum(r.n_suppressed for r in kept) == 400
    # heads are genuine minima: no kept event within its own burst window
    # precedes another kept event of the same (user, type) by <= gap
    by_key = {}
    for r in kept:
        by_key.setdefault((r.user_id, r.event_type), []).append(r.ts)
    for ts_list in by_key.values():
        ts_sorted = sorted(ts_list)
        for a, b in zip(ts_sorted, ts_sorted[1:]):
            assert (b - a).total_seconds() > 600


def test_psi_terms_nonnegative_random(spark):
    """Every PSI term (q-p)·ln(q/p) is ≥ 0 by construction — on random
    disjoint splits the operator must never emit a negative term."""
    from mack_spark.operators.profile import population_stability

    rng = random.Random(99)
    rows = [(rng.lognormvariate(5, 1),) for _ in range(2000)]
    df = spark.createDataFrame(rows, "v double")
    a = df.filter(F.rand(7) < 0.5)
    b = df.subtract(a)
    out = population_stability(a, b, "v").collect()
    assert all(r.psi_term >= 0 for r in out)
    assert sum(r.n_expected for r in out) == a.count()
    assert sum(r.n_actual for r in out) == b.count()


def test_equal_frequency_histogram_partitions_rows_random(spark):
    """Buckets partition the rows: counts sum to n, value ranges are
    ordered and non-overlapping."""
    from mack_spark.operators.profile import equal_frequency_histogram

    rng = random.Random(5)
    rows = [(rng.randrange(1000),) for _ in range(3000)]
    df = spark.createDataFrame(rows, "v long")
    hist = equal_frequency_histogram(df, "v", 10).collect()
    assert sum(r.n_rows for r in hist) == 3000
    for x, y in zip(hist, hist[1:]):
        assert x.max_value <= y.min_value
