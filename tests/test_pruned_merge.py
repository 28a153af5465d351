"""Pruned merge: mack's MERGE-based mutations on a Delta-protocol table
rewrite ONLY the files (or partitions) a source key can touch — every
other file stays live, unchanged, in the next version — while producing
exactly the same table contents as a full rewrite."""

from pyspark.sql import functions as F

import mack_spark as mk
from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import KeyedMerge

from conftest import assert_df_equality

SCHEMA = "pkey int, attr string, seg string, is_current boolean, effective_time timestamp, end_time timestamp"


def _partition_files(table, seg):
    return sorted(p for p in table.snapshot().files if p.startswith(f"seg={seg}/"))


def _base_rows(spark):
    return spark.createDataFrame(
        [
            (1, "A", "s1", True, None, None),
            (2, "B", "s2", True, None, None),
            (3, "C", "s3", True, None, None),
        ],
        SCHEMA,
    ).withColumn("effective_time", F.to_timestamp(F.lit("2020-01-01")))


def test_pruned_merge_links_untouched_partitions(spark, tmp_path):
    table = DeltaProtocolTable.create(
        spark, str(tmp_path / "dim"), _base_rows(spark), partition_by=["seg"]
    )
    before_s2 = _partition_files(table, "s2")
    before_s3 = _partition_files(table, "s3")

    updates = spark.createDataFrame(
        [(1, "A2", "s1", None)],
        "pkey int, attr string, seg string, effective_time timestamp",
    ).withColumn("effective_time", F.to_timestamp(F.lit("2021-06-01")))
    mk.type_2_scd_generic_upsert(
        table, updates, "pkey", ["attr", "seg"],
        "is_current", "effective_time", "end_time",
    )

    # Untouched partitions survived as the same live files (a rewrite
    # would add freshly named files and remove these).
    assert _partition_files(table, "s2") == before_s2
    assert _partition_files(table, "s3") == before_s3

    out = table.to_df()
    assert out.count() == 4  # closed v1 + new current + 2 untouched
    s1 = {(r["attr"], r["is_current"]) for r in out.filter("seg = 's1'").collect()}
    assert s1 == {("A", False), ("A2", True)}


def test_pruned_merge_matches_full_rewrite(spark, tmp_path):
    df = _base_rows(spark)
    pruned = DeltaProtocolTable.create(spark, str(tmp_path / "p"), df, partition_by=["seg"])
    full = DeltaProtocolTable.create(spark, str(tmp_path / "f"), df, partition_by=["seg"])

    updates = spark.createDataFrame(
        [(2, "B2", "s2", None), (9, "NEW", "s9", None)],
        "pkey int, attr string, seg string, effective_time timestamp",
    ).withColumn("effective_time", F.to_timestamp(F.lit("2021-06-01")))

    mk.type_2_scd_generic_upsert(
        pruned, updates, "pkey", ["attr", "seg"],
        "is_current", "effective_time", "end_time",
    )
    # Same post-state committed as a full rewrite.
    from mack_spark.scd import scd2_post_state

    post = scd2_post_state(
        full.to_df(), updates, "pkey", ["attr", "seg"],
        "is_current", "effective_time", "end_time",
    )
    full.overwrite(post)

    cols = ["pkey", "attr", "seg", "is_current", "effective_time", "end_time"]
    assert_df_equality(
        pruned.to_df().select(*cols).orderBy("pkey", "is_current"),
        full.to_df().select(*cols).orderBy("pkey", "is_current"),
    )


def test_pruned_merge_handles_deleted_partition(spark, tmp_path):
    # A touched partition whose post-state has no rows simply vanishes.
    t = DeltaProtocolTable.create(
        spark,
        str(tmp_path / "d"),
        spark.createDataFrame([(1, "s1"), (2, "s2")], "id int, seg string"),
        partition_by=["seg"],
    )
    t.merge(KeyedMerge(
        source=spark.createDataFrame([(1,)], "id int"),
        condition="t.id = s.id",
        matched_delete=True,
        target_key_col="id", source_key_col="id",
    ))
    assert [r["seg"] for r in t.to_df().collect()] == ["s2"]
    assert _partition_files(t, "s1") == []


# ---------------------------------------------------------------- file-pruned
# On UNPARTITIONED tables the per-file min/max key statistics in the
# log pick the files a source key can live in; the rest stay live.


def _ranged_table(spark, path, n=100, files=4, scd=False):
    df = spark.range(n).select(
        F.col("id").cast("int").alias("pkey"),
        F.concat(F.lit("v"), F.col("id")).alias("attr"),
    )
    if scd:
        df = df.select(
            "pkey", "attr",
            F.lit(True).alias("is_current"),
            F.to_timestamp(F.lit("2020-01-01")).alias("effective_time"),
            F.lit(None).cast("timestamp").alias("end_time"),
        )
    df = df.repartitionByRange(files, "pkey").sortWithinPartitions("pkey")
    return DeltaProtocolTable.create(spark, str(path), df)


def _live_files(table):
    return set(table.snapshot().files)


def test_file_pruned_scd2_links_untouched_files(spark, tmp_path):
    table = _ranged_table(spark, tmp_path / "t", scd=True)
    before = _live_files(table)
    assert len(before) == 4

    updates = spark.createDataFrame(
        [(5, "A2", None)], "pkey int, attr string, effective_time timestamp"
    ).withColumn("effective_time", F.to_timestamp(F.lit("2021-06-01")))
    mk.type_2_scd_generic_upsert(
        table, updates, "pkey", ["attr"],
        "is_current", "effective_time", "end_time",
    )

    # key 5 lives in exactly one of the four range files: the other
    # three must stay live unchanged
    shared = before & _live_files(table)
    assert len(shared) == 3, (before, _live_files(table))

    out = table.to_df()
    assert out.count() == 101  # 100 rows + one closed version
    s = {(r["attr"], r["is_current"]) for r in out.filter("pkey = 5").collect()}
    assert s == {("v5", False), ("A2", True)}


def test_file_pruned_drop_duplicates_pkey(spark, tmp_path):
    df = (
        spark.range(100)
        .select(
            F.col("id").cast("int").alias("pkey"),
            (F.col("id") % 50).cast("int").alias("c1"),
        )
    )
    # duplicate c1 groups: each c1 value appears twice (pkey k and k+50)
    clustered = df.repartitionByRange(4, "c1").sortWithinPartitions("c1")
    table = DeltaProtocolTable.create(spark, str(tmp_path / "dd"), clustered)

    mk.drop_duplicates_pkey(table, "pkey", ["c1"])

    out = table.to_df()
    assert out.count() == 50
    assert out.agg(F.max("pkey")).collect()[0][0] == 49  # min-pkey survivors
    # every file had duplicates (c1 values repeat everywhere), so this
    # asserts only correctness; the pruning assertion is the disjoint
    # case above


def test_file_pruned_out_of_range_insert_survives(spark, tmp_path):
    table = _ranged_table(spark, tmp_path / "oor", scd=True)
    before = _live_files(table)

    # key 1000 is beyond every file's max: the insert must land even
    # though no existing file range contains it
    updates = spark.createDataFrame(
        [(1000, "NEW", None)], "pkey int, attr string, effective_time timestamp"
    ).withColumn("effective_time", F.to_timestamp(F.lit("2021-06-01")))
    mk.type_2_scd_generic_upsert(
        table, updates, "pkey", ["attr"],
        "is_current", "effective_time", "end_time",
    )
    out = table.to_df()
    assert out.count() == 101
    assert out.filter("pkey = 1000").count() == 1
    # no base file contained key 1000 -> ALL base files stay live
    assert before <= _live_files(table)


def test_file_pruned_matches_full_rewrite(spark, tmp_path):
    from mack_spark.dedup import drop_duplicates_pkey_post

    df = (
        spark.range(60)
        .select(
            F.col("id").cast("int").alias("pkey"),
            F.when(F.col("id") < 3, 0).otherwise(F.col("id")).cast("int").alias("c1"),
        )
        .repartitionByRange(3, "pkey")
    )
    pruned = DeltaProtocolTable.create(spark, str(tmp_path / "fp"), df)
    full = DeltaProtocolTable.create(spark, str(tmp_path / "ff"), df)

    mk.drop_duplicates_pkey(pruned, "pkey", ["c1"])
    full.overwrite(drop_duplicates_pkey_post(full.to_df(), ["pkey"], ["c1"]))
    assert_df_equality(
        pruned.to_df().orderBy("pkey"), full.to_df().orderBy("pkey")
    )


def test_file_pruned_merge_string_key(spark, tmp_path):
    """String-typed merge keys: min/max stats are strings; range
    pruning must behave identically to a full rewrite."""
    df = (
        spark.range(90)
        .select(
            F.concat(F.lit("cust-"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("ckey"),
            (F.col("id") % 45).cast("int").alias("grp"),
            F.col("id").cast("int").alias("pkey"),
        )
        .repartitionByRange(3, "ckey")
        .sortWithinPartitions("ckey")
    )
    pruned = DeltaProtocolTable.create(spark, str(tmp_path / "sp"), df)
    full = DeltaProtocolTable.create(spark, str(tmp_path / "sf"), df)

    # delete the rows of three specific string keys
    doomed = spark.createDataFrame(
        [("cust-0003",), ("cust-0004",), ("cust-0088",)], "ckey string"
    )
    before = _live_files(pruned)
    pruned.merge(KeyedMerge(
        source=doomed,
        condition="t.ckey = s.ckey",
        matched_delete=True,
        target_key_col="ckey", source_key_col="ckey",
    ))
    full.overwrite(full.to_df().join(doomed, "ckey", "left_anti"))
    assert_df_equality(
        pruned.to_df().orderBy("ckey"), full.to_df().orderBy("ckey")
    )
    # keys hit files 1 and 3 of 3; the middle file must stay live
    assert len(before & _live_files(pruned)) == 1
