"""Deterministic sampling invariants and OPTIMIZE compaction."""

from mack_spark.operators import deterministic_sample, stratified_sample
from mack_spark.sources.delta_log import DeltaProtocolTable

from conftest import assert_df_equality


def _docs(spark):
    return spark.createDataFrame(
        [(i, "en" if i % 3 else "de", f"text {i}") for i in range(200)],
        ["doc_id", "lang", "text"],
    )


def test_deterministic_sample_is_stable_and_partition_independent(spark):
    df = _docs(spark)
    a = deterministic_sample(df, 0.2, ["doc_id"]).select("doc_id")
    b = deterministic_sample(df.repartition(7), 0.2, ["doc_id"]).select("doc_id")
    assert_df_equality(a, b)
    n = a.count()
    assert 0 < n < 200  # roughly 20%, definitely a strict subset
    # a different salt draws a different subset
    c = deterministic_sample(df, 0.2, ["doc_id"], salt="other").select("doc_id")
    assert {r[0] for r in a.collect()} != {r[0] for r in c.collect()}


def test_deterministic_sample_fraction_bounds(spark):
    df = _docs(spark)
    assert deterministic_sample(df, 0.0, ["doc_id"]).count() == 0
    assert deterministic_sample(df, 1.0, ["doc_id"]).count() == 200
    try:
        deterministic_sample(df, 1.5, ["doc_id"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_stratified_sample_quota(spark):
    df = _docs(spark)
    out = stratified_sample(df, ["lang"], 7, ["doc_id"])
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"en": 7, "de": 7}
    # stable under repartition
    out2 = stratified_sample(df.repartition(5), ["lang"], 7, ["doc_id"])
    assert_df_equality(
        out.select("doc_id", "lang"), out2.select("doc_id", "lang")
    )


def test_optimize_compact_reduces_files(spark, tmp_path):
    df = _docs(spark).repartition(16)
    t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
    before = t.detail()
    assert before["numFiles"] >= 8
    stats = t.optimize(target_file_bytes=10**9)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1
    assert t.to_df().count() == 200
    assert t.history()[0]["operation"] == "OPTIMIZE"


def test_hash_split_deterministic_and_partition_independent(spark):
    from mack_spark.operators.sampling import hash_split

    df = spark.range(2000).withColumnRenamed("id", "k")
    a = {r["k"]: r["split"] for r in hash_split(df, ["k"]).collect()}
    b = {
        r["k"]: r["split"]
        for r in hash_split(df.repartition(13), ["k"]).collect()
    }
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    # 98/1/1 within loose tolerance on 2000 keys
    assert 1900 <= c["train"] <= 1990
    assert 5 <= c["val"] <= 50 and 5 <= c["test"] <= 50
    # different salt draws an independent assignment
    d = {r["k"]: r["split"] for r in hash_split(df, ["k"], salt="v2").collect()}
    assert d != a


def test_hash_split_custom_weights_and_validation(spark):
    import pytest

    from mack_spark.operators.sampling import hash_split

    df = spark.range(1000).withColumnRenamed("id", "k")
    half = hash_split(df, ["k"], weights=(("a", 1), ("b", 1)))
    from collections import Counter

    c = Counter(r["split"] for r in half.collect())
    assert abs(c["a"] - c["b"]) < 200
    with pytest.raises(ValueError, match="at least two"):
        hash_split(df, ["k"], weights=(("only", 1.0),))
    with pytest.raises(ValueError, match="non-negative"):
        hash_split(df, ["k"], weights=(("a", -1), ("b", 2)))


def test_hash_split_is_map_only(spark):
    from mack_spark.operators.sampling import hash_split

    df = spark.range(100).withColumnRenamed("id", "k")
    plan = (
        hash_split(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_selective_compact_links_big_files(spark, tmp_path):
    """OPTIMIZE contract: only the small-file tail is rewritten; files
    already at target size stay live, untouched."""
    big = spark.range(0, 20000).selectExpr("id", "repeat('x', 64) as pad").coalesce(1)
    t = DeltaProtocolTable.create(spark, str(tmp_path / "sel"), big)
    big_files = set(t.snapshot().files)
    # append a tail of tiny files
    for i in range(4):
        t.append(
            spark.range(100000 + i * 10, 100000 + i * 10 + 10)
            .selectExpr("id", "repeat('y', 8) as pad")
            .coalesce(1)
        )
    n_before = t.to_df().count()

    stats = t.optimize(target_file_bytes=1 << 20, min_file_bytes=10000)
    assert stats["files_before"] == 5
    assert stats["files_after"] < 5
    # the big file is still live; the four tiny ones merged
    assert big_files <= set(t.snapshot().files)
    assert t.to_df().count() == n_before


def test_selective_compact_falls_back_when_unhelpful(spark, tmp_path):
    """A lone small file has nothing to bin with: OPTIMIZE commits
    nothing."""
    df = spark.range(100).coalesce(1)
    t = DeltaProtocolTable.create(spark, str(tmp_path / "fb"), df)
    stats = t.optimize()
    assert stats["files_after"] == 1 and stats["rewritten"] == 0
    assert t.snapshot().version == 0
    assert t.to_df().count() == 100
