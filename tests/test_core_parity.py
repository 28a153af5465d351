"""End-to-end golden tests for the reference operator surface.

Modeled on the reference test strategy (SURVEY §5): literal fixture →
Delta-protocol table under tmp_path → one operator call → order-insensitive
full-frame equality against a literal expected frame. Fixtures are our
own; semantics asserted are the reference's (file:line cited per test).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import mack_spark as mk
from mack_spark.sources.delta_log import DeltaProtocolTable
from tests.conftest import assert_df_equality


def make_delta(spark, path, data, schema, **kw):
    """The table every mack function takes."""
    return DeltaProtocolTable.create(
        spark, str(path), spark.createDataFrame(data, schema), **kw
    )


TS = dt.datetime


# ---------------------------------------------------------------- SCD2
SCD_SCHEMA = StructType(
    [
        StructField("pkey", IntegerType(), True),
        StructField("attr", StringType(), True),
        StructField("is_current", BooleanType(), True),
        StructField("effective_time", TimestampType(), True),
        StructField("end_time", TimestampType(), True),
    ]
)
UPD_SCHEMA = StructType(
    [
        StructField("pkey", IntegerType(), True),
        StructField("attr", StringType(), True),
        StructField("effective_time", TimestampType(), True),
    ]
)


def test_scd2_upsert_single_attribute(spark, tmp_path):
    # Semantics: reference mack/__init__.py:43-141, tests:31-79.
    t0, t1 = TS(2024, 1, 1), TS(2024, 6, 1)
    base = [
        (1, "alpha", True, t0, None),
        (2, "beta", True, t0, None),
        (4, "delta", True, t0, None),
    ]
    table = make_delta(spark, tmp_path / "scd", base, SCD_SCHEMA)
    updates = spark.createDataFrame(
        [
            (2, "beta2", t1),   # changed attr -> close + insert
            (3, "gamma", t1),   # new key -> insert
            (4, "delta", t1),   # unchanged -> no-op
        ],
        UPD_SCHEMA,
    )
    mk.type_2_scd_upsert(table, updates, "pkey", ["attr"])
    expected = spark.createDataFrame(
        [
            (1, "alpha", True, t0, None),
            (2, "beta", False, t0, t1),
            (2, "beta2", True, t1, None),
            (3, "gamma", True, t1, None),
            (4, "delta", True, t0, None),
        ],
        SCD_SCHEMA,
    )
    assert_df_equality(table.to_df().select(*expected.columns), expected)


def test_scd2_upsert_is_idempotent(spark, tmp_path):
    # Re-sending current rows inserts nothing (reference tests:322-368).
    t0 = TS(2024, 1, 1)
    base = [(1, "alpha", True, t0, None), (2, "beta", True, t0, None)]
    table = make_delta(spark, tmp_path / "scd", base, SCD_SCHEMA)
    updates = spark.createDataFrame([(1, "alpha", TS(2024, 6, 1))], UPD_SCHEMA)
    mk.type_2_scd_upsert(table, updates, "pkey", ["attr"])
    expected = spark.createDataFrame(base, SCD_SCHEMA)
    assert_df_equality(table.to_df().select(*expected.columns), expected)


def test_scd2_null_unsafe_change_detection(spark, tmp_path):
    # 'B'->NULL alone is NOT a change (null-unsafe <>), but NULL among
    # other changed attrs still triggers (reference tests:177-199, SURVEY §2c.1).
    t0, t1 = TS(2024, 1, 1), TS(2024, 6, 1)
    schema = StructType(
        [
            StructField("pkey", IntegerType(), True),
            StructField("a1", StringType(), True),
            StructField("a2", StringType(), True),
            StructField("is_current", BooleanType(), True),
            StructField("effective_time", TimestampType(), True),
            StructField("end_time", TimestampType(), True),
        ]
    )
    upd_schema = StructType(
        [
            StructField("pkey", IntegerType(), True),
            StructField("a1", StringType(), True),
            StructField("a2", StringType(), True),
            StructField("effective_time", TimestampType(), True),
        ]
    )
    base = [(1, "x", "y", True, t0, None), (2, "p", "q", True, t0, None)]
    table = make_delta(spark, tmp_path / "scd", base, schema)
    updates = spark.createDataFrame(
        [
            (1, "x", None, t1),      # only change is y->NULL: no-op
            (2, "CHANGED", None, t1),  # a1 changed: closes despite NULL a2
        ],
        upd_schema,
    )
    mk.type_2_scd_upsert(table, updates, "pkey", ["a1", "a2"])
    expected = spark.createDataFrame(
        [
            (1, "x", "y", True, t0, None),
            (2, "p", "q", False, t0, t1),
            (2, "CHANGED", None, True, t1, None),
        ],
        schema,
    )
    assert_df_equality(table.to_df().select(*expected.columns), expected)


def test_scd2_rejects_schema_mismatch(spark, tmp_path):
    # Exact sorted column-set equality (reference mack/__init__.py:84-96).
    t0 = TS(2024, 1, 1)
    table = make_delta(spark, tmp_path / "scd", [(1, "a", True, t0, None)], SCD_SCHEMA)
    bad_updates = spark.createDataFrame(
        [(1, "a", t0, "extra")],
        StructType(UPD_SCHEMA.fields + [StructField("extra", StringType(), True)]),
    )
    with pytest.raises(TypeError, match="updates DataFrame has these columns"):
        mk.type_2_scd_upsert(table, bad_updates, "pkey", ["attr"])


def test_scd2_generic_version_column(spark, tmp_path):
    # Generic effective/end columns may be integers (reference tests:263-319).
    schema = StructType(
        [
            StructField("pkey", IntegerType(), True),
            StructField("attr", StringType(), True),
            StructField("cur", BooleanType(), True),
            StructField("ver", IntegerType(), True),
            StructField("endver", IntegerType(), True),
        ]
    )
    upd = StructType(
        [
            StructField("pkey", IntegerType(), True),
            StructField("attr", StringType(), True),
            StructField("ver", IntegerType(), True),
        ]
    )
    table = make_delta(spark, tmp_path / "scd", [(1, "a", True, 1, None)], schema)
    updates = spark.createDataFrame([(1, "b", 2)], upd)
    mk.type_2_scd_generic_upsert(table, updates, "pkey", ["attr"], "cur", "ver", "endver")
    expected = spark.createDataFrame(
        [(1, "a", False, 1, 2), (1, "b", True, 2, None)], schema
    )
    assert_df_equality(table.to_df().select(*expected.columns), expected)


# ---------------------------------------------------------------- dedup
DUP_SCHEMA = StructType(
    [
        StructField("pkey", IntegerType(), True),
        StructField("c1", StringType(), True),
        StructField("c2", StringType(), True),
    ]
)


def test_kill_duplicates_no_survivor(spark, tmp_path):
    # Whole duplicate groups deleted (reference mack/__init__.py:144-192).
    data = [
        (1, "A", "A"),
        (2, "A", "B"),
        (3, "A", "A"),
        (4, "A", "A"),
        (5, "B", "B"),
        (6, "D", "D"),
        (9, "B", "B"),
    ]
    table = make_delta(spark, tmp_path / "kill", data, DUP_SCHEMA)
    mk.kill_duplicates(table, ["c1", "c2"])
    expected = spark.createDataFrame([(2, "A", "B"), (6, "D", "D")], DUP_SCHEMA)
    assert_df_equality(table.to_df().select("pkey", "c1", "c2"), expected)


def test_kill_duplicates_validations(spark, tmp_path):
    table = make_delta(spark, tmp_path / "kill", [(1, "A", "A")], DUP_SCHEMA)
    with pytest.raises(TypeError, match="must be specified"):
        mk.kill_duplicates(table, [])
    with pytest.raises(TypeError, match="required"):
        mk.kill_duplicates(table, ["nope"])
    with pytest.raises(TypeError, match="delta table"):
        mk.kill_duplicates("not-a-table", ["c1"])


def test_drop_duplicates_pkey_min_pk_survives(spark, tmp_path):
    # Survivor = lowest primary key (reference mack/__init__.py:240).
    data = [
        (3, "A", "A"),
        (1, "A", "A"),
        (2, "A", "A"),
        (5, "B", "B"),
        (4, "C", "C"),
    ]
    table = make_delta(spark, tmp_path / "ddp", data, DUP_SCHEMA)
    mk.drop_duplicates_pkey(table, "pkey", ["c1", "c2"])
    expected = spark.createDataFrame(
        [(1, "A", "A"), (5, "B", "B"), (4, "C", "C")], DUP_SCHEMA
    )
    assert_df_equality(table.to_df().select("pkey", "c1", "c2"), expected)


def test_drop_duplicates_pkey_validations(spark, tmp_path):
    table = make_delta(spark, tmp_path / "ddp", [(1, "A", "A")], DUP_SCHEMA)
    with pytest.raises(TypeError, match="primary key"):
        mk.drop_duplicates_pkey(table, "", ["c1"])
    with pytest.raises(TypeError, match="duplication column"):
        mk.drop_duplicates_pkey(table, "pkey", [])
    with pytest.raises(TypeError, match="not be part"):
        mk.drop_duplicates_pkey(table, "pkey", ["pkey", "c1"])


def test_drop_duplicates_overwrite(spark, tmp_path):
    # Arbitrary survivor over identical rows (reference tests:449-471).
    data = [(1, "A", "A"), (1, "A", "A"), (2, "B", "B")]
    table = make_delta(spark, tmp_path / "dd", data, DUP_SCHEMA)
    mk.drop_duplicates(table, ["pkey", "c1"])
    expected = spark.createDataFrame([(1, "A", "A"), (2, "B", "B")], DUP_SCHEMA)
    assert_df_equality(table.to_df().select("pkey", "c1", "c2"), expected)


def test_append_without_duplicates(spark, tmp_path):
    # Insert-only-new-keys + in-batch dedup (reference mack/__init__.py:383-412).
    table = make_delta(spark, tmp_path / "awd", [(1, "A", "A"), (2, "B", "B")], DUP_SCHEMA)
    append = spark.createDataFrame(
        [(2, "R", "R"), (3, "C", "C"), (3, "C", "C"), (4, "D", "D")], DUP_SCHEMA
    )
    mk.append_without_duplicates(table, append, ["pkey"])
    expected = spark.createDataFrame(
        [(1, "A", "A"), (2, "B", "B"), (3, "C", "C"), (4, "D", "D")], DUP_SCHEMA
    )
    assert_df_equality(table.to_df().select("pkey", "c1", "c2"), expected)


# ---------------------------------------------------------------- appends
def test_validate_append_allows_optional(spark, tmp_path):
    # reference mack/__init__.py:328-380, tests:541-614.
    table = make_delta(spark, tmp_path / "va", [(1, "A", "A")], DUP_SCHEMA)
    append = spark.createDataFrame(
        [(2, "B", "B", "extra")],
        StructType(DUP_SCHEMA.fields + [StructField("opt", StringType(), True)]),
    )
    mk.validate_append(table, append, required_cols=["pkey", "c1"], optional_cols=["opt"])
    out = table.to_df()
    assert sorted(out.columns) == ["c1", "c2", "opt", "pkey"]
    assert out.count() == 2
    assert out.filter(F.col("opt") == "extra").count() == 1


def test_validate_append_rejects_unknown_and_missing(spark, tmp_path):
    table = make_delta(spark, tmp_path / "va", [(1, "A", "A")], DUP_SCHEMA)
    bad = spark.createDataFrame(
        [(2, "B", "B", "x")],
        StructType(DUP_SCHEMA.fields + [StructField("rogue", StringType(), True)]),
    )
    with pytest.raises(TypeError, match="not part of the current Delta table"):
        mk.validate_append(table, bad, ["pkey"], optional_cols=[])
    missing_required = spark.createDataFrame([("A",)], "c1 string")
    with pytest.raises(TypeError, match="required"):
        mk.validate_append(table, missing_required, ["pkey"], optional_cols=[])


def test_constraint_append_check_and_notnull(spark, tmp_path):
    # reference mack/__init__.py:630-693; NULL check rows land nowhere.
    schema = StructType(
        [
            StructField("id", IntegerType(), False),
            StructField("amount", DoubleType(), True),
        ]
    )
    table = DeltaProtocolTable.create(
        spark,
        str(tmp_path / "tgt"),
        spark.createDataFrame([], schema),
        properties={"delta.constraints.amount_pos": "amount > 0"},
    )
    # the quarantine takes NOT NULL violators, so its id is nullable
    quarantine = DeltaProtocolTable.create(
        spark, str(tmp_path / "q"), spark.createDataFrame([], "id int, amount double")
    )
    append = spark.createDataFrame(
        [(1, 5.0), (2, -3.0), (3, None), (None, 7.0)], schema=StructType(
            [
                StructField("id", IntegerType(), True),
                StructField("amount", DoubleType(), True),
            ]
        )
    )
    mk.constraint_append(table, append, quarantine)
    good = [tuple(r) for r in table.to_df().collect()]
    bad = [tuple(r) for r in quarantine.to_df().collect()]
    assert sorted(good, key=repr) == [(1, 5.0)]
    # (2,-3.0) fails check -> quarantine; (None,7.0) fails NOT NULL -> quarantine;
    # (3, None): check is NULL -> neither table (three-valued logic, SURVEY §2c.6)
    assert sorted(bad, key=repr) == [(2, -3.0), (None, 7.0)]


def test_constraint_append_requires_constraints(spark, tmp_path):
    table = make_delta(spark, tmp_path / "nc", [(1, "A", "A")], DUP_SCHEMA)
    with pytest.raises(TypeError, match="no constraints"):
        mk.constraint_append(table, table.to_df(), None)


def test_constraint_append_none_quarantine_drops(spark, tmp_path):
    schema = StructType([StructField("id", IntegerType(), True)])
    table = DeltaProtocolTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([], schema),
        properties={"delta.constraints.pos": "id > 0"},
    )
    mk.constraint_append(table, spark.createDataFrame([(1,), (-5,)], schema), None)
    assert [r["id"] for r in table.to_df().collect()] == [1]


# ---------------------------------------------------------------- keys
def test_is_composite_key_candidate(spark, tmp_path):
    # reference tests:655-670
    data = [(1, "A", "x"), (2, "A", "y"), (3, "B", "x")]
    table = make_delta(spark, tmp_path / "k", data, DUP_SCHEMA)
    assert not mk.is_composite_key_candidate(table, ["c1"])
    assert mk.is_composite_key_candidate(table, ["c1", "c2"])
    with pytest.raises(TypeError, match="required"):
        mk.is_composite_key_candidate(table, ["nope"])


def test_find_composite_key_candidates(spark, tmp_path):
    # Smallest combination, combinations order, first hit wins
    # (reference tests:737-760 expects exactly the minimal pair).
    schema = StructType(
        [
            StructField("col1", IntegerType(), True),
            StructField("col2", StringType(), True),
            StructField("col3", StringType(), True),
        ]
    )
    data = [
        (1, "a", "x"),
        (1, "a", "y"),
        (2, "b", "x"),
        (2, "b", "y"),
    ]
    table = make_delta(spark, tmp_path / "fk", data, schema)
    assert mk.find_composite_key_candidates(table) == ["col1", "col3"]


def test_find_composite_key_candidates_value_error(spark, tmp_path):
    # A "key" that needs all columns raises (reference mack/__init__.py:584-585).
    schema = StructType(
        [
            StructField("col1", IntegerType(), True),
            StructField("col2", StringType(), True),
        ]
    )
    data = [(1, "a"), (1, "b"), (2, "a")]
    table = make_delta(spark, tmp_path / "fke", data, schema)
    with pytest.raises(ValueError, match="No composite key candidates"):
        mk.find_composite_key_candidates(table)


def test_with_md5_cols_null_quirk(spark):
    # concat_ws drops NULLs: ('a', NULL) hashes like ('a',) (reference tests:802).
    df = spark.createDataFrame([("a", None), ("a", "b")], "x string, y string")
    out = mk.with_md5_cols(df, ["x", "y"]).collect()
    by_key = {((r["x"], r["y"])): r["md5_x_y"] for r in out}
    assert by_key[("a", None)] == "0cc175b9c0f1b6a831c399e269772661"  # md5('a')
    assert by_key[("a", "b")] != by_key[("a", None)]
    named = mk.with_md5_cols(df, ["x"], output_col_name="sk")
    assert "sk" in named.columns


# ---------------------------------------------------------------- tables
def test_copy_table_preserves_metadata(spark, tmp_path):
    # Clone data + partitioning + properties, NOT history (reference tests:474-500).
    df = spark.createDataFrame([(1, "A", "x"), (2, "B", "y")], DUP_SCHEMA)
    table = DeltaProtocolTable.create(
        spark,
        str(tmp_path / "src"),
        df=df,
        partition_by=["c1"],
        properties={"owner": "tests"},
    )
    table.append(df.limit(1))  # bump history
    clone = mk.copy_table(table, str(tmp_path / "dst"))
    assert clone.detail()["partitionColumns"] == ["c1"]
    assert clone.detail()["properties"]["owner"] == "tests"
    assert mk.latest_version(clone) == 0  # fresh history
    assert clone.to_df().count() == 3


def test_copy_table_of_column_mapped_table(spark, tmp_path):
    # The copy is written under logical names: it must not inherit the
    # source's column mapping, or a later rename reads NULLs.
    table = make_delta(spark, tmp_path / "cm", [(1, "a")], "id int, v string")
    table.enable_column_mapping()
    table.rename_column("v", "w")
    clone = mk.copy_table(table, str(tmp_path / "cm_dst"))
    assert not any(k.startswith("delta.columnMapping.") for k in clone.detail()["properties"])
    clone.rename_column("w", "z")
    assert [tuple(r) for r in clone.to_df().collect()] == [(1, "a")]


def test_copy_table_to_metastore_table(spark, tmp_path):
    # target_table variant: saveAsTable into the session catalog with the
    # source's partitioning (reference mack/__init__.py:312-318).
    df = spark.createDataFrame([(1, "A", "x"), (2, "B", "y")], DUP_SCHEMA)
    table = DeltaProtocolTable.create(
        spark, str(tmp_path / "src_meta"), df=df, partition_by=["c1"]
    )
    spark.sql("DROP TABLE IF EXISTS mack_copy_test")
    try:
        assert mk.copy_table(table, target_table="mack_copy_test") is None
        got = spark.table("mack_copy_test")
        assert got.count() == 2
        assert sorted(got.columns) == sorted(df.columns)
        part_cols = [
            c.name for c in spark.catalog.listColumns("mack_copy_test")
            if c.isPartition
        ]
        assert part_cols == ["c1"]
    finally:
        spark.sql("DROP TABLE IF EXISTS mack_copy_test")

    import pytest as _pytest
    with _pytest.raises(TypeError, match="target_path or target_table"):
        mk.copy_table(table)


def test_rename_table(spark, tmp_path):
    table = make_delta(spark, tmp_path / "old", [(1, "A", "x")], DUP_SCHEMA)
    renamed = mk.rename_table(table, str(tmp_path / "new"))
    assert renamed.to_df().count() == 1
    assert not DeltaProtocolTable.is_delta(str(tmp_path / "old"))


def test_latest_version_and_file_sizes(spark, tmp_path):
    table = make_delta(spark, tmp_path / "v", [(1, "A", "x")], DUP_SCHEMA)
    table.append(spark.createDataFrame([(2, "B", "y")], DUP_SCHEMA))
    table.append(spark.createDataFrame([(3, "C", "z")], DUP_SCHEMA))
    assert mk.latest_version(table) == 2
    sizes = mk.file_sizes(table)
    assert sizes["number_of_files"] >= 3
    assert sizes["size_in_bytes"] > 0
    assert sizes["average_file_size_in_bytes"] == round(
        sizes["size_in_bytes"] / sizes["number_of_files"], 0
    )


def test_show_file_sizes(spark, tmp_path, capfd):
    table = make_delta(spark, tmp_path / "s", [(1, "A", "x")], DUP_SCHEMA)
    mk.show_file_sizes(table)
    out = capfd.readouterr().out
    assert "The delta table contains" in out and "average file size" in out


# ---------------------------------------------------------------- fmt
def test_humanize_bytes():
    # Threshold n >= 0.9*k (reference mack/__init__.py:530; SURVEY §2c.9).
    assert mk.humanize_bytes(950) == "0.95 kB"
    assert mk.humanize_bytes(100) == "100 B"
    assert mk.humanize_bytes(12_345_678) == "12.35 MB"
    assert mk.humanize_bytes(1_305_678) == "1.31 MB"


def test_humanize_bytes_binary_keeps_si_labels():
    # Binary divisor with SI labels (reference tests:730-734).
    assert mk.humanize_bytes_binary(12_345_678) == "11.77 MB"
    assert mk.humanize_bytes_binary(1_048_576) == "1.00 MB"


def test_reference_name_aliases():
    # The reference's exact public names (mack/__init__.py:459, :480)
    # resolve to the same callables as our canonical names — drop-in imports.
    assert mk.delta_file_sizes is mk.file_sizes
    assert mk.show_delta_file_sizes is mk.show_file_sizes


def test_rename_delta_table_reference_shape(spark, tmp_path):
    """The reference's flag-shaped rename (mack/__init__.py:696-738):
    same parameters, same TypeError contracts, both dispatch branches."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    table = DeltaProtocolTable.create(spark, str(tmp_path / "rdt_src"), df)

    # reference error contract, verbatim conditions
    with pytest.raises(TypeError, match="existing delta table"):
        mk.rename_delta_table("not a table", "x")
    with pytest.raises(TypeError, match="spark session"):
        mk.rename_delta_table(table, "x", databricks=True)

    # non-databricks branch: rows materialize under the new catalog name
    spark.sql("DROP TABLE IF EXISTS rdt_new")
    try:
        mk.rename_delta_table(table, "rdt_new")
        assert spark.table("rdt_new").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS rdt_new")

    # databricks branch: catalog-metadata rename through the session
    spark.sql("DROP TABLE IF EXISTS rdt_cat_src")
    spark.sql("DROP TABLE IF EXISTS rdt_cat_dst")
    df.write.saveAsTable("rdt_cat_src")
    try:
        mk.rename_delta_table(
            table, "rdt_cat_dst", table_location="rdt_cat_src",
            databricks=True, spark_session=spark,
        )
        assert spark.table("rdt_cat_dst").count() == 2
        assert not spark.catalog.tableExists("rdt_cat_src")
    finally:
        spark.sql("DROP TABLE IF EXISTS rdt_cat_src")
        spark.sql("DROP TABLE IF EXISTS rdt_cat_dst")


def test_rename_catalog_table(spark, tmp_path):
    """The reference's Databricks rename branch (ALTER TABLE RENAME TO)
    against the local session catalog: data and properties survive, the
    old name stops resolving."""
    spark.sql("DROP TABLE IF EXISTS rct_src")
    spark.sql("DROP TABLE IF EXISTS rct_dst")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.saveAsTable("rct_src")
    try:
        mk.rename_catalog_table(spark, "rct_src", "rct_dst")
        assert spark.table("rct_dst").count() == 1
        assert not spark.catalog.tableExists("rct_src")
        with pytest.raises(TypeError):
            mk.rename_catalog_table(spark, "", "x")
    finally:
        spark.sql("DROP TABLE IF EXISTS rct_src")
        spark.sql("DROP TABLE IF EXISTS rct_dst")
