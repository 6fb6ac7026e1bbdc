"""Physical-plan audits and scale-discipline tests: the queries must not
just return right answers — they must produce the plans we designed for
(broadcasts, pushdowns, no cartesian products, bucketed-join shuffle
elision, salted-aggregation equivalence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_s3_to_redshift_spark.operators.skew import salt_join_skewed_keys, salted_aggregate
from etl_s3_to_redshift_spark.plans import warehouse as WH
from etl_s3_to_redshift_spark.queries import REGISTRY, _load_extensions
from etl_s3_to_redshift_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE

_load_extensions()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def registry_plans(spark) -> dict[str, str]:
    """{name: plan} of every registered query at SF_SMOKE under the
    default session conf, built once for the whole-registry audits."""
    return {name: plan_of(spec.spark(spark, SF_SMOKE)) for name, spec in REGISTRY.items()}


def executed_plan_of(df, materialize: bool = True) -> str:
    """Final (post-AQE) physical plan — the authoritative shape for
    pins that depend on runtime decisions (ReusedExchange, AQE join
    swaps). Every plan-shape pin in the suite routes through this
    module (ADVICE r10 #3) so a Spark upgrade that changes the private
    accessors or node names breaks in ONE place."""
    if materialize:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_enrich_broadcasts_all_dims(spark):
    """diststyle-all dims (SURVEY §4) must become broadcast hash joins —
    the fact side must never shuffle for enrichment at any test SF.
    customer's broadcast is size-driven (no pinned hint — it grows with
    SF), so at the 100 TB point it degrades to a shuffle join instead of
    an OOM; nation/region hints are pinned (bounded at every SF)."""
    plan = plan_of(REGISTRY["r2_broadcast_enrich"].spark(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the 100 TB regime: with auto-broadcast off, the unpinned customer
    # join falls back to sort-merge while the pinned bounded dims remain
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(REGISTRY["r2_broadcast_enrich"].spark(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") == 2  # nation, region
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_filter_and_projection_pushdown(spark):
    """R5's predicate must reach the parquet scan (PushedFilters) and the
    scan must read only the projected columns (ReadSchema pruning)."""
    df = REGISTRY["r5_notnull_filter"].spark(spark, SF_SMOKE)
    plan = plan_of(df)
    scan_line = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "isnotnull(user_id" in scan_line and "event_type" in scan_line
    # column pruning: scan reads only the 4 projected columns
    assert "props" not in scan_line.split("ReadSchema")[0].split("[")[1].split("]")[0]
    cols = scan_line.split("FileScan parquet [")[1].split("]")[0]
    assert set(c.split("#")[0] for c in cols.split(",")) == {
        "event_id", "user_id", "event_type", "value"
    }


def test_q1_partial_aggregation(spark):
    """TPC-H Q1 must do map-side partial aggregation (only groups cross
    the shuffle) — the plan shows two HashAggregates around one Exchange."""
    plan = plan_of(REGISTRY["q1_pricing_summary"].spark(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_topk_uses_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a full Sort."""
    plan = plan_of(REGISTRY["r9_top_k"].spark(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


# BNLJ allowlist for the registry-wide cartesian audit, name -> one-line
# justification (VERDICT r8 #7: justifications are DATA so the liveness
# test below can report them; a dead entry — renamed query or a plan that
# no longer carries the BNLJ — fails test_allowlist_entries_are_live).
ALLOWED_BNL = {
    # (sim_topk_cosine_fast was here until r9: its Arrow mapInPandas
    # kernel replaced the BNLJ scan — the liveness test flagged the
    # dead entry on its first run, exactly the rot it exists to catch)
    "sim_topk_cosine": "deliberate broadcast-streamed exact similarity scan",
    "emb_hard_negatives": "deliberate broadcast-streamed similarity scan",
    "cross_join_region_nation": "deliberate bounded×bounded cross join",
    "q22_dormant_value_customers": "1-row global-average broadcast (scalar subquery)",
    "q11_important_part_value": "1-row global-threshold broadcast (scalar subquery)",
    "text_zipf_fit": "1-row totals × 1-row regression cross join",
    "customer_rfm_segments": "1-row percentile-boundary broadcast",
    "graph_pagerank_nations": "1-row dangling-mass broadcast per iteration",
    "sim_ann_recall_report": "contains the exact brute-force baseline scan",
    "ts_seasonal_anomalies": "1-row residual-stddev broadcast",
    "text_bm25_topk": "1-row corpus-stats (N, avgdl) broadcast",
    "approx_heavy_hitters": "1-row total-count broadcast",
    "sim_hybrid_rrf": "BM25 1-row stats broadcast + brute dense-leg query scan",
    # same bounded frames as sim_hybrid_rrf: the BNLJ is the 1-row
    # corpus-stats (N, avgdl) broadcast of the SPARSE leg; the IVF
    # dense leg joins on cell keys (hash join), never nested-loop
    "sim_hybrid_rrf_ann": "sparse-leg 1-row corpus-stats broadcast",
    # identical sparse leg; the saved-index dense leg is a
    # statically-pruned scan + arrow kernel — no join at all
    "sim_hybrid_rrf_ann_saved": "sparse-leg 1-row corpus-stats broadcast",
    # the staged sparse leg keeps the same 1-row stats crossJoin — the
    # scalar frame now reads from the staged stats parquet
    "text_bm25_topk_staged": "1-row staged corpus-stats (N, avgdl) broadcast",
    "text_bm25_topk_appended": "1-row staged corpus-stats (N, avgdl) broadcast",
    "sim_hybrid_rrf_staged": "staged-sparse-leg 1-row corpus-stats broadcast",
    # (web_curation_funnel was here until r11: the quota count became
    # Σ least(quota, n_urls) on the domain rollup, so the report is ONE
    # 1-row aggregate — no cross join left in the plan)
    # r11: V (distinct second words) moved from a driver-side distinct-
    # count job to a 1-row count_distinct crossJoined onto the
    # vocab-sized scores frame (rides the model exchange via AQE reuse)
    "text_bigram_logprob": "1-row vocab-size (V) broadcast",
    # r10: the basket total became a 1-row aggregate crossJoin (it was a
    # construction-time driver .count() action — an extra fact pass per
    # call) so it can ride the shared _baskets exchange
    "basket_association_rules": "1-row basket-total broadcast",
}


def test_no_cartesian_products_anywhere(registry_plans):
    """No registered query may plan a CartesianProduct; the only
    broadcast-nested-loops allowed are the ALLOWED_BNL entries (each a
    deliberate bounded-build scan or 1-row scalar broadcast)."""
    for name, plan in registry_plans.items():
        assert "CartesianProduct" not in plan, name
        if name not in ALLOWED_BNL:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_fact_joins_are_size_driven_not_pinned(spark):
    """The headline fact joins must carry NO broadcast hint on a
    fact-scale side (orders/customer/part/lineitem subtrees): with
    auto-broadcast disabled — the 100 TB regime, where no fact fits in an
    executor — the optimizer must fall back to SortMergeJoin, and the only
    surviving BroadcastHashJoins are the explicitly-hinted bounded dims
    (nation: 25 rows, region: 5 rows at every SF). An explicit F.broadcast
    on a fact would bypass the threshold and OOM at scale; this test
    proves none is pinned (VERDICT r01 items 1; SCALING.md 'facts
    sort-merge, dims replicate')."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # query -> number of hinted bounded-dim broadcasts that must remain
        expected_dim_broadcasts = {
            "q3_top_revenue_orders": 0,
            "q5_nation_revenue": 2,   # region→nation, nation⋈region→customer
            "q10_top_returners": 1,   # nation
            "q14_promo_share": 0,
            "q18_large_orders": 0,
        }
        for name, n_dims in expected_dim_broadcasts.items():
            plan = plan_of(REGISTRY[name].spark(spark, SF_SMOKE))
            assert plan.count("BroadcastHashJoin") == n_dims, (name, plan)
            if name == "q18_large_orders":
                # q18's fact join deliberately hints SHUFFLE_HASH on the
                # post-HAVING aggregated residue: the build side per reduce
                # partition is residue/numShufflePartitions (bounded — the
                # partition count scales with the cluster), and skipping
                # sort-merge's full sort of orders measured 1.9× at sf100.
                assert "ShuffledHashJoin" in plan, name
                assert "SortMergeJoin" not in plan, name
            else:
                assert "SortMergeJoin" in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_tpch2_joins_are_size_driven_not_pinned(spark):
    """Round-2 TPC-H shapes under the 100 TB regime (auto-broadcast off):
    the only surviving BroadcastHashJoins are the hinted bounded sides —
    nation/region (25/5 rows at every SF) and 1-row scalar aggregates
    (q15 max, q22 global average, the latter a 1-row-build BNLJ). Every
    fact-fact edge falls back to SortMergeJoin."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # query -> (hinted bounded broadcasts, 1-row-build BNLJs)
        expected = {
            "q7_nation_trade_volume": (2, 0),   # nation ×2
            "q8_market_share": (3, 0),          # nation ×2 + region
            "q9_product_profit": (1, 0),        # nation
            "q12_late_shipment_priority": (0, 0),
            "q13_order_count_distribution": (0, 0),
            "q15_top_revenue_supplier": (1, 0),  # 1-row max aggregate
            "q16_supplier_part_count": (0, 0),
            "q17_small_quantity_revenue": (0, 0),
            "q19_bracketed_revenue": (0, 0),
            "q21_waiting_supplier": (0, 0),
            "q22_dormant_value_customers": (0, 1),  # 1-row global average
        }
        for name, (n_bhj, n_bnl) in expected.items():
            plan = plan_of(REGISTRY[name].spark(spark, SF_SMOKE))
            assert plan.count("BroadcastHashJoin") == n_bhj, (name, plan)
            assert plan.count("BroadcastNestedLoopJoin") == n_bnl, (name, plan)
            assert "SortMergeJoin" in plan, name
            assert "CartesianProduct" not in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_q19_or_predicate_pushes_to_both_scans(spark):
    """Q19's OR-of-ANDs must be factored: the single-side conjunct
    disjunctions push below the join into BOTH parquet scans (quantity
    brackets -> lineitem, brand/size brackets -> part), leaving only the
    cross-side residual on the join."""
    df = REGISTRY["q19_bracketed_revenue"].spark(spark, SF_SMOKE)
    # formatted explain: toString truncates long PushedFilters lines
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    li_pushed = next(l for l in pushed if "l_quantity" in l)
    p_pushed = next(l for l in pushed if "p_brand" in l)
    assert "Or(" in li_pushed, li_pushed
    assert "Or(" in p_pushed, p_pushed


def test_q18_preaggregates_before_join(spark):
    """Q18's lineitem side must be aggregated (partial + final HashAggregate
    on l_orderkey, HAVING filter applied) BEFORE the join with orders — the
    join probe side is the post-HAVING residue, not the raw 4·SF-row fact."""
    plan = plan_of(REGISTRY["q18_large_orders"].spark(spark, SF_SMOKE))
    join_pos = min(
        plan.find("SortMergeJoin") % (1 << 30),
        plan.find("BroadcastHashJoin") % (1 << 30),
        plan.find("ShuffledHashJoin") % (1 << 30),
    )
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1 and join_pos < (1 << 30)
    # aggregate appears below (after, in toString order) the join operator
    assert plan.count("HashAggregate") >= 2 and "partial_" in plan
    assert agg_pos > join_pos, "aggregation must be a child of the join, not its parent"


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """diststyle-key analogue: two tables bucketed on the join key must
    join without any Exchange (SURVEY §4; plans/warehouse.save_table)."""
    # spark.sql.warehouse.dir is static — tables land in ./spark-warehouse
    # (gitignored); the DROPs below remove the managed files.
    # Disable auto-broadcast: at real scale neither side is broadcastable —
    # the point is that co-located buckets make the SORT-MERGE join
    # shuffle-free.
    before_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    WH.create_schema(spark, "bucketdemo")
    WH.use_schema(spark, "bucketdemo")
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        customer = load_table(spark, SF_SMOKE, "customer")
        WH.save_table(orders, "orders_b", bucket_by=(8, "o_custkey"))
        WH.save_table(customer, "customer_b", bucket_by=(8, "c_custkey"))
        o_b = spark.table("orders_b")
        c_b = spark.table("customer_b")
        joined = o_b.join(c_b, o_b["o_custkey"] == c_b["c_custkey"]).hint("merge")
        plan = plan_of(joined)
        assert "Exchange" not in plan  # co-located: no shuffle at all
        assert joined.count() == orders.count()
    finally:
        WH.drop_tables(spark, ["orders_b", "customer_b"])
        WH.use_schema(spark, "default")
        spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before_thresh)


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Date-partitioned layout (sinks.write_parquet partition_by) must
    yield partition pruning: a day-filtered read lists only that day's
    directory (PartitionFilters, not a full scan + post-filter)."""
    from etl_s3_to_redshift_spark.sources.sinks import write_parquet

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_day")
    write_parquet(ev, out, partition_by="event_date", sort_key="ts")
    back = spark.read.parquet(out).filter(F.col("event_date") == "2024-01-02")
    plan = plan_of(back)
    scan_line = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "PartitionFilters" in scan_line
    assert "isnotnull(event_date" in scan_line
    n_days = ev.select("event_date").distinct().count()
    expect = ev.filter(F.col("event_date") == "2024-01-02").count()
    assert n_days > 1 and back.count() == expect > 0


def test_salted_aggregate_matches_plain(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type): (r.n, r.v)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(12,2)")).alias("v"))
        .collect()
    }
    salted = {
        (r.event_type): (r.n, r.v)
        for r in salted_aggregate(
            ev,
            ["event_type"],
            {"n": ("event_id", "count"), "v": (F.col("value").cast("decimal(12,2)"), "sum")},
        ).collect()
    }
    # normalize: salted count returns sum of partial counts (long)
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k][0] == salted[k][0] and plain[k][1] == salted[k][1]


def test_salted_join_matches_plain(spark):
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    dim = customer.withColumnRenamed("c_custkey", "o_custkey")
    plain = {
        (r.o_orderkey, r.c_name)
        for r in orders.join(dim, "o_custkey", "inner").collect()
    }
    hot = [r.o_custkey for r in orders.groupBy("o_custkey").count().orderBy(F.desc("count")).limit(3).collect()]
    salted = {
        (r.o_orderkey, r.c_name)
        for r in salt_join_skewed_keys(orders, dim, "o_custkey", hot_keys=hot, n_salts=8).collect()
    }
    assert plain == salted


def test_narrow_text_ops_have_no_exchange(spark):
    """pii_scrub and random_projection are contractually narrow — one
    codegen projection inside the scan, zero shuffles at any scale."""
    for name in ("text_pii_scrub", "emb_random_projection"):
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMOKE))
        assert "Exchange" not in plan, name


def test_topk_ops_use_take_ordered(spark):
    """Corpus top-k selections must plan TakeOrderedAndProject (per-task
    heaps), never a global sort of the full aggregate."""
    for name in ("text_bigram_topk", "text_vocab_topk", "data_weighted_sample"):
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan, name
        assert "rangepartitioning" not in plan.lower(), name


def test_bigram_plan_scans_corpus_once(spark):
    """The n-gram builder works inside the token array: one parquet scan,
    no posexplode self-join or per-doc window."""
    plan = plan_of(REGISTRY["text_bigram_topk"].spark(spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_winsorize_broadcasts_percentiles(spark):
    """The group-percentile frame is group-count-sized and must come back
    as a broadcast join — the row-sized side never shuffles for it."""
    plan = plan_of(REGISTRY["scale_winsorize"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A date/type-partitioned fact joined to a selectively-filtered dim
    must plan a dynamic partition pruning subquery: only the partitions
    the dim's surviving keys name are read — at 100 TB this is the
    difference between scanning one day and scanning the lake."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "ev_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", "engage"), ("purchase", "convert"), ("error", "ops")],
        "event_type string, bucket string",
    ).filter(F.col("bucket") == "convert")
    joined = fact.join(dim, "event_type").select("event_id", "bucket")

    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruned read is still correct
    want = ev.filter(F.col("event_type") == "purchase").count()
    assert joined.count() == want and want > 0


def _top_bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan line (nested brackets stay inside)."""
    groups, depth, cur = [], 0, None
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
            else:
                cur += ch
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                cur = None
            else:
                cur += ch
        elif depth >= 1:
            cur += ch
    return groups


def _global_windows(plan: str) -> list[str]:
    """Window nodes with NO partition spec — the whole input funnels
    through ONE task (Exchange SinglePartition). toString format:
    ``Window [exprs], [partSpec], [orderSpec]``; with no ordering the
    orderSpec group is dropped, with no partitioning the partSpec group
    is dropped — so 2 groups is ambiguous and the sort-direction tokens
    (NULLS FIRST/LAST) identify the second group as an ORDER spec."""
    hits = []
    for line in plan.splitlines():
        t = line.strip().lstrip("+-: *").strip()
        if not t.startswith("Window "):
            continue
        g = _top_bracket_groups(t)
        unpart = len(g) == 1 or (len(g) == 2 and " NULLS " in g[1])
        if unpart:
            hits.append(t[:120])
    return hits


def test_no_unpartitioned_windows_outside_allowlist(registry_plans):
    """Mechanized bounded-window audit (VERDICT r5 item 8): an
    unpartitioned ``Window.orderBy`` is the classic scale-killer — the
    FULL input crosses one Exchange SinglePartition into one task. The
    BNLJ audit's twin: every registered query's physical plan is walked,
    and a global Window is allowed ONLY for queries on this explicit
    allowlist, where the window's input is a POST-AGGREGATION frame whose
    row count is bounded by a dimension of the data (bucket counts, group
    counts, top-k limits), never by the row count. A future query adding
    an unbounded global window fails here by name."""
    flagged = {}
    for name, plan in registry_plans.items():
        hits = _global_windows(plan)
        if hits and name not in ALLOWED_GLOBAL_WINDOW:
            flagged[name] = hits
    assert not flagged, (
        "unpartitioned global Window outside the bounded-frame allowlist "
        f"(single-task funnel at scale): {flagged}"
    )


# Global-window allowlist, name -> one-line justification (same liveness
# contract as ALLOWED_BNL): every entry's window input is a
# POST-AGGREGATION frame bounded by a data dimension, never row count.
ALLOWED_GLOBAL_WINDOW = {
    "data_source_mixture": "window over per-source quota frame (≤ #distinct sources rows)",
    "skew_key_profile": "totals over the group-count frame (≤ #distinct keys rows)",
    "text_zipf_fit": "top-1000 vocab via TakeOrderedAndProject feeds the window",
    "ts_decompose_hourly": "hour-bucket frame (≤ 24·#days rows post-aggregation)",
    "ts_seasonal_anomalies": "hour-bucket frame (≤ 24·#days rows post-aggregation)",
    "ts_inflight_shipments_daily": "day-bucket running net (≤ #days rows post-aggregation)",
    "orders_yoy_growth": "year×month frame (≤ 12·#years rows post-aggregation)",
    "data_token_budget": "apportionment windows over the per-source token-total frame",
}


def test_allowlist_entries_are_live(registry_plans):
    """Every allowlist entry must still match a LIVE plan (VERDICT r8
    #7): an entry whose query is gone, or whose plan no longer contains
    the allowed construct at the audit SF, is dead weight that would
    silently re-admit the construct if the query ever regrew it — fail
    loudly with the entry's recorded justification so removal is a
    one-line diff."""
    dead = []
    for name, why in ALLOWED_BNL.items():
        if name not in REGISTRY:
            dead.append((name, "not in REGISTRY", why))
            continue
        plan = registry_plans[name]
        if "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan:
            dead.append((name, "plans no BroadcastNestedLoopJoin", why))
    for name, why in ALLOWED_GLOBAL_WINDOW.items():
        if name not in REGISTRY:
            dead.append((name, "not in REGISTRY", why))
            continue
        plan = registry_plans[name]
        if not _global_windows(plan):
            dead.append((name, "plans no global Window", why))
    assert not dead, f"dead allowlist entries — remove them: {dead}"
