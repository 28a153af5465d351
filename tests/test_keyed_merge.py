"""Keyed MERGE on the Delta-protocol table (``DeltaProtocolTable.merge``)
as mack's functions drive it: on any layout the result equals the same
mutation on a single-file twin, files whose key range misses every
source key stay live and unchanged, NULL keys follow the condition's
three-valued logic, and an ambiguous source raises before anything
commits."""

import random

import pytest
from pyspark.sql import functions as F

import mack_spark as mk
from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import KeyedMerge

from conftest import assert_df_equality

SCD = (
    "pkey int, attr string, is_current boolean,"
    " effective_time timestamp, end_time timestamp"
)


def _live_files(table):
    return set(table.snapshot().files)


def _unclustered_scd_table(spark, path, n=100, files=4):
    """Hash-partitioned layout: every file's key range overlaps every
    other."""
    df = (
        spark.createDataFrame(
            [(i, f"v{i}", True, None, None) for i in range(n)], SCD
        )
        .withColumn("effective_time", F.to_timestamp(F.lit("2020-01-01")))
        .repartition(files)
    )
    return DeltaProtocolTable.create(spark, str(path), df)


def _ups(spark, rows):
    return spark.createDataFrame(
        rows, "pkey int, attr string, effective_time timestamp"
    ).withColumn("effective_time", F.to_timestamp(F.lit("2021-06-01")))


def test_scd2_unclustered_matches_single_file_twin(spark, tmp_path):
    rows = [(i, f"v{i}", True, None, None) for i in range(60)]
    base = spark.createDataFrame(rows, SCD).withColumn(
        "effective_time", F.to_timestamp(F.lit("2020-01-01"))
    )
    keyed = DeltaProtocolTable.create(spark, str(tmp_path / "k"), base.repartition(5))
    twin = DeltaProtocolTable.create(spark, str(tmp_path / "f"), base.coalesce(1))

    ups = _ups(spark, [(3, "X", None), (44, "Y", None), (99, "NEW", None)])
    for t in (keyed, twin):
        mk.type_2_scd_generic_upsert(
            t, ups, "pkey", ["attr"],
            "is_current", "effective_time", "end_time",
        )
    assert_df_equality(keyed.to_df(), twin.to_df())


def test_drop_duplicates_pkey_unclustered(spark, tmp_path):
    # every (grp, val) group is unique in the base (val carries i)
    df = (
        spark.createDataFrame(
            [(i, i % 10, f"g{i}") for i in range(100)],
            "pk int, grp int, val string",
        )
        .repartition(5)
    )
    table = DeltaProtocolTable.create(spark, str(tmp_path / "d"), df)
    # induce dups in exactly two groups via an append
    table.append(
        spark.createDataFrame(
            [(1000, 3, "g3"), (1001, 7, "g7")], "pk int, grp int, val string"
        )
    )
    before = _live_files(table)
    mk.drop_duplicates_pkey(table, "pk", ["grp", "val"])
    # losers (pk 1000/1001, higher than survivors 3/7) live only in the
    # appended file; the five original hash files hold only survivors
    # and their pk ranges miss the losers, so they stay live untouched
    shared = before & _live_files(table)
    assert len(shared) >= 5, (len(before), len(shared))
    out = table.to_df()
    assert out.count() == 100
    assert out.filter("pk >= 1000").count() == 0


def test_kill_duplicates_keeps_null_groups(spark, tmp_path):
    """Reference parity: mack's merge condition is plain `=`
    (mack/__init__.py:184-192), so NULL-keyed duplicate groups are
    detected but never matched — they must survive."""
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, "a"), (3, 5, "b"), (4, 6, "c"), (5, 6, "c")],
        "pk int, grp int, val string",
    ).repartition(3)
    table = DeltaProtocolTable.create(spark, str(tmp_path / "n"), df)
    mk.kill_duplicates(table, ["grp", "val"])
    out = sorted(r["pk"] for r in table.to_df().collect())
    assert out == [1, 2, 3]


def test_null_safe_keyed_merge_deletes_null_group(spark, tmp_path):
    """The raw KeyedMerge surface DOES support null-safe conditions
    (Delta `<=>`): a NULL source key must match NULL target keys and
    delete them, which exercises the null-candidate file selection."""
    rows = [(i, 100 + i, f"u{i}") for i in range(30)]
    rows += [(900, None, "a"), (901, None, "a"), (902, 6, "c"), (903, 6, "c")]
    df = spark.createDataFrame(rows, "pk int, grp int, val string").repartition(4)
    table = DeltaProtocolTable.create(spark, str(tmp_path / "ns"), df)
    dup_keys = (
        table.to_df()
        .groupBy("grp", "val")
        .count()
        .filter(F.col("count") > 1)
        .drop("count")
    )
    table.merge(
        KeyedMerge(
            source=dup_keys,
            condition="t.`grp` <=> s.`grp` AND t.`val` <=> s.`val`",
            matched_delete=True,
            target_key_col="grp",
            source_key_col="grp",
            null_safe=True,
        )
    )
    out = sorted(r["pk"] for r in table.to_df().collect())
    assert out == list(range(30))


def test_insert_only_merge_links_everything(spark, tmp_path):
    table = _unclustered_scd_table(spark, tmp_path / "i", n=50, files=3)
    before = _live_files(table)
    mk.type_2_scd_generic_upsert(
        table, _ups(spark, [(200, "N1", None), (201, "N2", None)]),
        "pkey", ["attr"], "is_current", "effective_time", "end_time",
    )
    # no existing file contains the new keys: every file stays live
    assert before <= _live_files(table)
    assert table.to_df().count() == 52
    news = {r["attr"] for r in table.to_df().filter("pkey >= 200").collect()}
    assert news == {"N1", "N2"}


def test_ambiguous_merge_raises(spark, tmp_path):
    table = _unclustered_scd_table(spark, tmp_path / "a", n=30, files=3)
    v0 = table.snapshot().version
    dup_ups = _ups(spark, [(5, "X", None), (5, "Y", None)])
    with pytest.raises(Exception, match="(?i)ambiguous|multiple"):
        mk.type_2_scd_generic_upsert(
            table, dup_ups, "pkey", ["attr"],
            "is_current", "effective_time", "end_time",
        )
    assert table.snapshot().version == v0


def test_keyless_file_rows_survive(spark, tmp_path):
    """A file written before the key column existed reads as key=NULL:
    it can match no equality key, and it has no key statistics, so the
    merge must read it as a candidate and keep all its rows."""
    table = DeltaProtocolTable.create(
        spark, str(tmp_path / "kl"),
        spark.createDataFrame([(f"old{i}",) for i in range(5)], "attr string"),
    )
    table.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "pkey int, attr string"
        ).repartition(2),
        merge_schema=True,
    )
    assert table.to_df().count() == 25

    doomed = spark.createDataFrame([(3,)], "pkey int")
    table.merge(
        KeyedMerge(
            source=doomed,
            condition="t.`pkey` = s.`pkey`",
            matched_delete=True,
            target_key_col="pkey",
            source_key_col="pkey",
        )
    )
    out = table.to_df()
    assert out.count() == 24
    assert out.filter("pkey = 3").count() == 0
    assert out.filter("pkey is null").count() == 5


# slow (~50 s): randomized equivalence sweep; the deterministic keyed-merge twins above pin the same contract
@pytest.mark.slow
def test_randomized_keyed_vs_full_rewrite(spark, tmp_path):
    """Property: on arbitrary layouts and update batches, the keyed
    file merge must equal the same upsert on a single-file twin."""
    rng = random.Random(74)
    for round_i in range(4):
        n = rng.randint(10, 60)
        keys = rng.sample(range(200), n)
        rows = [(k, f"v{k % rng.randint(2, 9)}", True, None, None) for k in keys]
        base = spark.createDataFrame(rows, SCD).withColumn(
            "effective_time", F.to_timestamp(F.lit("2020-01-01"))
        )
        files = rng.randint(2, 6)
        keyed = DeltaProtocolTable.create(
            spark, str(tmp_path / f"rk{round_i}"), base.repartition(files)
        )
        twin = DeltaProtocolTable.create(
            spark, str(tmp_path / f"rf{round_i}"), base.coalesce(1)
        )
        upd_keys = rng.sample(range(250), rng.randint(1, 12))
        ups = _ups(spark, [(k, f"u{rng.randint(0, 5)}", None) for k in upd_keys])
        for t in (keyed, twin):
            mk.type_2_scd_generic_upsert(
                t, ups, "pkey", ["attr"],
                "is_current", "effective_time", "end_time",
            )
        assert_df_equality(keyed.to_df(), twin.to_df())


# ---- DeltaProtocolTable.merge: source uniqueness skips the probe ----


@pytest.fixture
def probe_spy(monkeypatch):
    """The ``assume_unambiguous`` of every interpreter call: True means
    the ambiguity probe join was skipped."""
    import mack_spark.merge_exec as me

    calls = []
    real = me.interpret_keyed_merge

    def spy(base, km, assume_unambiguous=False):
        calls.append(assume_unambiguous)
        return real(base, km, assume_unambiguous=assume_unambiguous)

    monkeypatch.setattr(me, "interpret_keyed_merge", spy)
    return calls


def _protocol_table(spark, path, rows, schema):
    return DeltaProtocolTable.create(
        spark, str(path), spark.createDataFrame(rows, schema)
    )


def _update_w(src, condition):
    return KeyedMerge(
        source=src, condition=condition,
        matched_update={"w": "s.w"},
        target_key_col="k", source_key_col="k",
    )


AB = "k int, b int, w string"


def test_unique_composite_tuples_skip_probe(spark, tmp_path, probe_spy):
    # k repeats in the source, (k, b) does not
    t = _protocol_table(
        spark, tmp_path / "u", [(1, 1, "x"), (1, 2, "y"), (2, 1, "z")], AB
    )
    src = spark.createDataFrame([(1, 1, "X"), (1, 2, "Y")], AB)
    t.merge(_update_w(src, "t.k = s.k AND t.b = s.b"))
    assert probe_spy == [True]
    got = sorted(map(tuple, t.to_df().collect()))
    assert got == [(1, 1, "X"), (1, 2, "Y"), (2, 1, "z")]


def test_duplicate_tuples_still_raise(spark, tmp_path, probe_spy):
    t = _protocol_table(spark, tmp_path / "d", [(1, 1, "x")], AB)
    src = spark.createDataFrame([(1, 1, "X"), (1, 1, "Y")], AB)
    v0 = t.snapshot().version
    with pytest.raises(ValueError, match="ambiguous"):
        t.merge(_update_w(src, "s.b = t.b AND t.k = s.k"))
    assert probe_spy == [False]
    assert t.snapshot().version == v0


def test_nan_tuples_run_probe(spark, tmp_path, probe_spy):
    # Spark's NaN = NaN holds, so both source rows match the one target
    # row; Python's NaN != NaN would call the tuples distinct
    schema = "k int, x double, w string"
    nan = float("nan")
    t = _protocol_table(spark, tmp_path / "n", [(1, nan, "a")], schema)
    src = spark.createDataFrame([(1, nan, "P"), (1, nan, "Q")], schema)
    with pytest.raises(ValueError, match="ambiguous"):
        t.merge(_update_w(src, "t.k = s.k AND t.x = s.x"))
    assert probe_spy == [False]


def test_cross_type_equality_runs_probe(spark, tmp_path, probe_spy):
    # '1' and '01' are distinct strings but both equal the int 1
    t = _protocol_table(spark, tmp_path / "c", [(1, 1, "a")], AB)
    src = spark.createDataFrame(
        [(1, "1", "P"), (1, "01", "Q")], "k int, b string, w string"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        t.merge(_update_w(src, "t.k = s.k AND t.b = s.b"))
    assert probe_spy == [False]


def test_or_condition_runs_probe(spark, tmp_path, probe_spy):
    t = _protocol_table(
        spark, tmp_path / "o", [(1, 1, "x"), (1, 2, "y")], AB
    )
    src = spark.createDataFrame([(1, 1, "X"), (1, 2, "Y")], AB)
    t.merge(_update_w(
        src,
        "(t.k = s.k AND t.b = s.b)"
        " OR (t.k = s.k AND t.b IS NULL AND s.b IS NULL)",
    ))
    assert probe_spy == [False]
    got = sorted(map(tuple, t.to_df().collect()))
    assert got == [(1, 1, "X"), (1, 2, "Y")]


def test_nested_field_equality_runs_probe(spark, tmp_path, probe_spy):
    schema = "k int, st struct<a:int>, w string"
    t = _protocol_table(
        spark, tmp_path / "s", [(1, (1,), "x"), (1, (2,), "y")], schema
    )
    src = spark.createDataFrame([(1, (1,), "X"), (1, (2,), "Y")], schema)
    t.merge(_update_w(src, "t.k = s.k AND t.st.a = s.st.a"))
    assert probe_spy == [False]
    got = sorted((r["st"]["a"], r["w"]) for r in t.to_df().collect())
    assert got == [(1, "X"), (2, "Y")]


def test_projection_types_round_trip(spark, tmp_path):
    """The rewrite's CAST types are SQL text: decimals keep their
    scale, timestamp_ntz stays zone-free, and struct field names that
    need backticks still parse — on the table and in its change feed."""
    import datetime
    from decimal import Decimal

    from mack_spark.sources.delta_log import DeltaProtocolTable

    schema = (
        "k int, amt decimal(10,2), ts timestamp_ntz,"
        " st struct<`a b`:int,`x``y`:string>"
    )
    ts0 = datetime.datetime(2024, 1, 2, 3, 4, 5)
    ts1 = datetime.datetime(2025, 6, 7, 8, 9, 10)
    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "ty"),
        spark.createDataFrame(
            [(1, Decimal("1.50"), ts0, (1, "p")),
             (2, Decimal("2.25"), ts0, (2, "q"))], schema,
        ),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    src = spark.createDataFrame(
        [(2, Decimal("9.99"), ts1, (20, "Q")),
         (3, Decimal("3.10"), ts1, (30, "r"))], schema,
    )
    t.merge(KeyedMerge(
        source=src, condition="t.k = s.k",
        matched_update="*", not_matched_insert="*",
        target_key_col="k", source_key_col="k",
    ))
    assert t.to_df().schema == spark.createDataFrame([], schema).schema
    got = sorted(map(tuple, t.to_df().collect()))
    assert got == [
        (1, Decimal("1.50"), ts0, (1, "p")),
        (2, Decimal("9.99"), ts1, (20, "Q")),
        (3, Decimal("3.10"), ts1, (30, "r")),
    ]
    changes = sorted(
        (r["_change_type"], r["k"], r["amt"], r["ts"], tuple(r["st"]))
        for r in t.table_changes(starting_version=1).collect()
    )
    assert changes == [
        ("insert", 3, Decimal("3.10"), ts1, (30, "r")),
        ("update_postimage", 2, Decimal("9.99"), ts1, (20, "Q")),
        ("update_preimage", 2, Decimal("2.25"), ts0, (2, "q")),
    ]
