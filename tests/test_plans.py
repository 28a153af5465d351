"""Physical-plan regression guards: the properties that matter at scale
(pushdown, pruning, broadcast dims, shuffle counts) asserted from
explain output, so a refactor that silently de-optimizes a plan fails
CI rather than only showing up in the benchmark."""

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, queries):
    plan = _plan(queries["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_discount), LessThanOrEqual(l_discount,0.08)" in plan
    # projection pruned to the 5 referenced columns at the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 5
    # partial + final aggregation
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_regional_revenue_broadcasts_all_dimensions(spark, queries):
    plan = _plan(queries["regional_revenue"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 4
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_shuffle(spark, queries):
    plan = _plan(queries["asof_join_purchase_view"](spark, SF_DIR))
    # one Exchange for the window; no join operator at all
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan


def test_shipping_priority_pushes_all_three_filters(spark, queries):
    plan = _plan(queries["shipping_priority"](spark, SF_DIR))
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_semi_join_broadcasts_only_the_key_column(spark, queries):
    plan = _plan(queries["order_priority_semi"](spark, SF_DIR))
    assert "BroadcastHashJoin LeftSemi" in plan
    # the broadcast side is pruned to the single join key after its filter
    assert "EqualTo(l_returnflag,R)" in plan
    assert re.search(r"BroadcastExchange\nInput \[1\]: \[l_orderkey", plan)


def test_anti_join_is_broadcast_with_pushed_filter(spark, queries):
    plan = _plan(queries["quiet_customers_anti"](spark, SF_DIR))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "GreaterThan(o_totalprice,480000.0)" in plan


def test_brand_rank_uses_window_group_limit(spark, queries):
    # Spark's top-k pushdown: partial WindowGroupLimit BEFORE the
    # exchange prunes each map partition to k rows per brand, so the
    # shuffle carries O(k * brands), not the full part table.
    plan = _plan(queries["brand_part_rank"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) WindowGroupLimit", plan)) == 2
    assert "rank(revenue" in plan and ", 3, Partial" in plan


def test_grouping_sets_is_single_scan_expand(spark, queries):
    plan = _plan(queries["revenue_grouping_sets"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_dedup_detection_shuffles_once_on_dup_key(spark, queries):
    plan = _plan(queries["dup_detect_groups"](spark, SF_DIR))
    # window count over the duplication columns: a single exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_forecast_revenue_pushes_every_predicate(spark, queries):
    plan = _plan(queries["forecast_revenue"](spark, SF_DIR))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.02)" in plan
    assert "LessThan(l_quantity,24" in plan
    # scan reads only the four referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4
    # no shuffle-inducing operator besides the single-row final agg
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_nation_trade_volume_only_fact_join_shuffles(spark, queries):
    plan = _plan(queries["nation_trade_volume"](spark, SF_DIR))
    # supplier/customer/nation×2 all broadcast
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4


def test_product_profit_prunes_part_before_broadcast(spark, queries):
    plan = _plan(queries["product_profit"](spark, SF_DIR))
    assert "Contains(p_name,widget)" in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3


def test_salted_totals_is_two_phase(spark, queries):
    plan = _plan(queries["salted_event_totals"](spark, SF_DIR))
    # phase-1 (salted) and phase-2 aggregations each partial+final
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4
    # three exchanges: salted-key shuffle, final per-type shuffle, and
    # the range partitioning for the output orderBy
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 3


def test_waiting_suppliers_single_window_pass(spark, queries):
    plan = _plan(queries["waiting_suppliers"](spark, SF_DIR))
    # per-order facts come from window passes over ONE order-key
    # shuffle (Exchange 9 feeds both lineitem Windows; the third Window
    # ranks the tiny per-supplier counts) — never a lineitem self-join
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 3
    assert "SortMergeJoin" not in plan


def test_pii_scrub_is_map_only(spark, queries):
    plan = _plan(queries["pii_stats"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    # projection pruned to what the counts actually need: source is
    # dropped (pii_stats doesn't output it), only id/text/n_chars scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text", "n_chars"
    }


def test_unigram_model_join_is_broadcast(spark, queries):
    """Pass 2 joins token instances to the vocabulary model: the model
    side must broadcast (a vocab is tens-of-MB at corpus scale), never
    shuffle the exploded token instances into a SortMergeJoin."""
    plan = _plan(queries["unigram_quality"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_packing_python_stage_sees_narrow_rows(spark, queries):
    """Token counting runs JVM-side; only (group, id, n_tokens) rows may
    enter the Arrow stage — the text column must not cross into Python."""
    plan = _plan(queries["sequence_packing"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    m = re.search(r"FlatMapGroupsInPandas \[[^\]]*\], pack\(([^)]*)\)", plan)
    args = m.group(1) if m else ""
    assert "text" not in args, args


def test_dataset_split_no_shuffle_no_python(spark, queries):
    plan = _plan(queries["dataset_split"](spark, SF_DIR))
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_skew_profile_uses_take_ordered(spark, queries):
    """Top-N over distinct-key counts must compile to
    TakeOrderedAndProject (per-partition top-N, driver merge) — never a
    global sort of the whole count relation."""
    plan = _plan(queries["key_skew_profile"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_event_debounce_single_exchange(spark, queries):
    """Window + per-burst groupBy share one (user, type) exchange: the
    groupBy keys are a superset of the window's partition keys, so
    EnsureRequirements must not add a second shuffle."""
    plan = _plan(queries["event_debounce"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_lang_split_check_one_exchange_no_join(spark, queries):
    """Pre-explode repartition is the only exchange (the per-doc groupBy
    reuses it); the zero-token restore is a join of the id spine."""
    plan = _plan(queries["lang_split_check"](spark, SF_DIR))
    # repartition exchange + the spine join's broadcast — but no
    # second hash-partition shuffle for the aggregation
    assert len(re.findall(r"\(\d+\) Exchange hashpartitioning", plan)) <= 2
    assert "SortMergeJoin" not in plan


def test_banded_near_dup_materializes_and_releases_cache(spark, queries):
    """The (id, table, bucket) frame is persisted for the one self-join,
    then RELEASED: the returned frame is a localCheckpoint scan (so the
    keyed cache doesn't leak for the session lifetime), no cartesian
    anywhere, and the storage level of every still-cached RDD must not
    include the keyed frame (nothing persisted survives the call)."""
    df = queries["dedup_embedding_banded"](spark, SF_DIR)
    plan = _plan(df)
    assert "ExistingRDD" in plan  # checkpointed result, lineage cut
    assert "CartesianProduct" not in plan
    # the self-join ran on a cached frame INSIDE the call, but the
    # returned plan must not reference it — the .persist() was released
    assert "InMemoryTableScan" not in plan


def test_banded_and_containment_release_their_caches(spark):
    """The pair generators persist an intermediate for their self-join
    but must RELEASE it before returning (session-lifetime cache leak
    otherwise — round-7 advice): after the call the SQL cache manager
    holds nothing."""
    from mack_spark.operators.dedup_text import ngram_containment_pairs
    from mack_spark.operators.similarity import embedding_near_dup_pairs_banded

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    embedding_near_dup_pairs_banded(emb, threshold=0.5, n_tables=2).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    ngram_containment_pairs(docs, min_containment=0.9).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_numeric_outliers_counting_pass_is_map_only(spark, queries):
    """After the (collected) quartiles, the counting pass is a single
    partial+final aggregate over the scan — no joins, no windows."""
    plan = _plan(queries["numeric_outliers"](spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan


def test_conversion_funnel_no_window_over_events(spark, queries):
    plan = _plan(queries["conversion_funnel"](spark, SF_DIR))
    assert "Window" not in plan  # chained min-aggregations, no ordering pass


def test_scd2_broadcast_is_size_gated_not_forced(spark):
    """scd2_post_state must NOT force-broadcast the updates side (a bulk
    backfill batch would OOM the build side): with broadcast disabled via
    the threshold the static plan takes sort-merge, and with the default
    threshold a small batch still broadcasts from plan statistics."""
    from pyspark.sql import functions as F

    from mack_spark.scd import scd2_post_state

    base = spark.read.parquet(f"{SF_DIR}/customer.parquet").selectExpr(
        "c_custkey AS pkey",
        "c_name AS attr",
        "true AS is_current",
        "timestamp'2020-01-01' AS effective_time",
        "CAST(NULL AS timestamp) AS end_time",
    )
    updates = spark.createDataFrame(
        [(1, "x", None)], "pkey long, attr string, effective_time timestamp"
    ).withColumn("effective_time", F.lit("2021-01-01").cast("timestamp"))

    def plan_for(threshold):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            return _plan(
                scd2_post_state(
                    base, updates, "pkey", ["attr"],
                    "is_current", "effective_time", "end_time",
                )
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "SortMergeJoin" in plan_for("-1")  # big batch path exists
    assert "BroadcastHashJoin" in plan_for("10MB")  # small batch still broadcasts


def test_protocol_read_pushdown_and_pruning(spark, tmp_path):
    """Filters and projections must reach the parquet scan THROUGH the
    protocol reader's explicit-schema path — a reader that breaks
    pushdown turns every 100 TB point lookup into a full scan."""
    from mack_spark.sources.delta_log import DeltaProtocolTable

    df = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    t = DeltaProtocolTable.create(spark, str(tmp_path / "pd"), df)
    plan = _plan(t.to_df().filter("c_custkey = 42").select("c_name"))
    assert "EqualTo(c_custkey,42)" in plan  # predicate pushed to scan
    import re

    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and set(
        c.split(":")[0] for c in rs.group(1).split(",")
    ) == {"c_custkey", "c_name"}  # column-pruned scan


def test_plain_protocol_read_is_one_bare_scan(spark, tmp_path):
    """An unpartitioned, unmapped ``to_df()`` (every perfbench read) is
    exactly one parquet scan: the row-id, deletion-vector and change
    feed machinery adds nothing to it."""
    from mack_spark.sources.delta_log import DeltaProtocolTable

    df = spark.read.parquet(f"{SF_DIR}/nation.parquet").repartition(2)
    t = DeltaProtocolTable.create(spark, str(tmp_path / "plain"), df)
    plan = t.to_df()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    for node in ("Join", "Union", "_metadata", "Python", "Pandas"):
        assert node not in plan, node


def test_row_tracking_read_plan(spark, tmp_path):
    """with_row_ids must stay scan-shaped: per-file bases join in via
    BROADCAST (one row per file), zero data shuffles, and user filters
    still push into the parquet scan — otherwise row-id reads would
    re-shuffle 100 TB to attach a per-file constant."""
    from mack_spark.sources.delta_log import DeltaProtocolTable

    df = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "rt"), df,
        properties={"delta.enableRowTracking": "true"},
    )
    plan = _plan(t.to_df(with_row_ids=True).filter("c_acctbal > 100"))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "GreaterThan(c_acctbal,100" in plan  # pushdown survives


def test_identity_generation_is_narrow(spark, tmp_path):
    """Identity assignment must add NO shuffle: one bounded
    per-partition count job, then a narrow Arrow stage stamping each
    partition's reserved range."""
    from mack_spark.sources.delta_log import DeltaProtocolTable, _IdentityWrite

    df = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "idn"), df,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    # the written table reads back shuffle-free, and the generation
    # plan itself (re-run on a fresh frame) is scan → mapInPandas
    with _IdentityWrite(t, t.snapshot().schema, df) as stamped:
        plan = _plan(stamped.df)
        assert "Exchange hashpartitioning" not in plan
        assert "MapInPandas" in plan
