"""Physical-plan assertions — the 100 TB posture, verified per query.

Correctness says the answer is right; these tests pin HOW Spark gets
it: filters and projections reach the parquet scan, small dimensions
broadcast, top-K fuses to TakeOrderedAndProject, and aggregates use
two-phase hash aggregation. A regression here is a silent 100×
slowdown at scale even while correctness stays green.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.plans import REGISTRY

from .conftest import SF_DIR


def _plan(spark, name: str) -> str:
    return (
        REGISTRY[name]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_plan_fingerprint_sensitive_to_join_strategy_only(spark):
    """The PLANSHASH ledger's fingerprint (scripts/dump_plans.py) must
    change when a broadcast join becomes sort-merge, and must NOT
    change when only expression ids / literals churn — that's what
    makes PLANSHASH_r*.json diff like value hashes."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    base = (
        "*(2) HashAggregate(keys=[k#12], functions=[sum(v#13)])\n"
        "+- Exchange hashpartitioning(k#12, 32)\n"
        "   +- BroadcastHashJoin [k#12], [k#14], Inner, BuildRight, false\n"
        "      :- FileScan parquet db.t1[k#12,v#13]\n"
        "      +- FileScan parquet db.t2[k#14]\n"
    )
    ids_churned = base.replace("#12", "#99").replace("#13", "#71").replace("32", "200")
    smj = base.replace(
        "BroadcastHashJoin [k#12], [k#14], Inner, BuildRight, false",
        "SortMergeJoin [k#12], [k#14], Inner",
    )
    fp_base = mod.plan_fingerprint(base)
    assert fp_base == mod.plan_fingerprint(ids_churned)
    fp_smj = mod.plan_fingerprint(smj)
    assert fp_base["hash"] != fp_smj["hash"]
    assert fp_smj["n_sort_merge_joins"] == 1 and fp_smj["n_broadcast_hash_joins"] == 0


def test_plan_fingerprint_cache_subtree_tagging_survives_codegen_stars():
    """Round-11 verdict #5: the cache-subtree tracker keyed on the node
    NAME's column, which codegen stars shift right, so a starred sibling
    after an InMemoryRelation stayed 'inside' the cache (or the inverse)
    and the 42 shared-subtree consumers lost their exchange-count
    regression tripwire. The structural-depth tagger must (a) keep a
    starred consumer node after a cache block in the MAIN counts and
    (b) still catch a synthetic regression: an exchange added to the
    CONSUMER plan moves n_exchanges even when a cache subtree is present."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # join of a cached frame with a scan; the post-cache sibling and the
    # downstream aggregate are codegen-starred (name columns deeper than
    # the InMemoryRelation's) — the round-11 tagger mis-filed them
    base = (
        "*(3) HashAggregate(keys=[k#1], functions=[sum(v#2)])\n"
        "+- *(3) BroadcastHashJoin [k#1], [k#9], Inner, BuildRight, false\n"
        "   :- InMemoryTableScan [k#1, v#2]\n"
        "   :     +- InMemoryRelation [k#1, v#2], StorageLevel(disk, memory)\n"
        "   :           +- Exchange hashpartitioning(k#1, 32)\n"
        "   :              +- *(1) FileScan parquet db.t1[k#1,v#2]\n"
        "   +- *(2) FileScan parquet db.t2[k#9]\n"
    )
    fp = mod.plan_fingerprint(base)
    assert fp["n_exchanges"] == 0, "cache-build exchange leaked into main"
    assert fp["n_cache_build_exchanges"] == 1
    assert fp["n_scans"] == 1, "post-cache starred sibling mis-tagged as cache"
    assert fp["n_broadcast_hash_joins"] == 1

    # materialized-AQE cache: the node under "== Final Plan ==" has NO
    # branch glyph — its rail-stripped indentation must keep it INSIDE
    # the cache subtree (a -1 depth falsely exited, resurrecting the
    # r11 inversion whenever a cache was materialized at dump time)
    aqe_cached = (
        "*(3) HashAggregate(keys=[k#1], functions=[sum(v#2)])\n"
        "+- *(3) BroadcastHashJoin [k#1], [k#9], Inner, BuildRight, false\n"
        "   :- InMemoryTableScan [k#1, v#2]\n"
        "   :     +- InMemoryRelation [k#1, v#2], StorageLevel(disk, memory)\n"
        "   :           +- AdaptiveSparkPlan isFinalPlan=true\n"
        "   :              +- == Final Plan ==\n"
        "   :                 *(2) HashAggregate(keys=[k#1], functions=[])\n"
        "   :                 +- Exchange hashpartitioning(k#1, 32)\n"
        "   :                    +- *(1) FileScan parquet db.t1[k#1,v#2]\n"
        "   :              +- == Initial Plan ==\n"
        "   :                 HashAggregate(keys=[k#1], functions=[])\n"
        "   :                 +- Exchange hashpartitioning(k#1, 32)\n"
        "   :                    +- FileScan parquet db.t1[k#1,v#2]\n"
        "   +- *(2) FileScan parquet db.t2[k#9]\n"
    )
    fp_aqe = mod.plan_fingerprint(aqe_cached)
    assert fp_aqe["n_exchanges"] == 0, "AQE section root exited the cache"
    assert fp_aqe["n_cache_build_exchanges"] == 2  # final + initial sections
    assert fp_aqe["n_scans"] == 1
    assert fp_aqe["n_broadcast_hash_joins"] == 1

    # synthetic regression: a new exchange in the CONSUMER plan (above
    # the cache) must move the main counter and the hash
    regressed = base.replace(
        "+- *(3) BroadcastHashJoin",
        "+- Exchange hashpartitioning(k#1, 32)\n"
        "   +- *(3) SortMergeJoin",
    ).replace("Inner, BuildRight, false", "Inner")
    fp_reg = mod.plan_fingerprint(regressed)
    assert fp_reg["n_exchanges"] == 1
    assert fp_reg["hash"] != fp["hash"]


def test_filter_pushdown_reaches_scan(spark):
    """daily_revenue's event_type filter must be pushed to parquet."""
    plan = _plan(spark, "daily_revenue")
    assert "PushedFilters: [" in plan and "event_type" in plan.split("PushedFilters", 1)[1][:200]


def test_column_pruning(spark):
    """daily_revenue reads 2 of 6 event columns."""
    plan = _plan(spark, "daily_revenue")
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "ts" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "event_id" not in read_schema


def test_topk_fuses_to_take_ordered(spark):
    plan = _plan(spark, "top_revenue_by_category")
    assert "TakeOrderedAndProject" in plan


def test_dimension_joins_broadcast(spark):
    """customer and nation must broadcast (at test scale orders may too
    — AQE sizes the build side, which is exactly the desired behavior;
    what must NOT appear is a cartesian product or a shuffle of the
    fact side for a dimension join)."""
    plan = _plan(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_anti_join_is_broadcast(spark):
    plan = _plan(spark, "abandoned_cart_users")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_two_phase_aggregation(spark):
    """Partial (map-side) aggregate before the shuffle."""
    plan = _plan(spark, "conversion_funnel")
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_everywhere(spark):
    """Codegen spans appear once AQE finalizes the plan (post-action).
    A write/save plans a separate QueryExecution, so collect() on the
    same frame is what finalizes THIS one."""
    df = REGISTRY["pricing_summary"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' is the compact WholeStageCodegen marker; both aggregate
    # phases must sit inside codegen'd stages, and AQE must have
    # coalesced the post-shuffle partitions.
    assert "isFinalPlan=true" in plan
    assert "*(1)" in plan and "*(2)" in plan
    assert "AQEShuffleRead coalesced" in plan


def test_no_cartesian_in_minhash(spark):
    """The LSH path must never plan a cartesian product."""
    plan = _plan(spark, "near_dup_minhash_lsh")
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_date_partitioned_lake(spark, tmp_path):
    """The lake writes date-partitioned; a one-day query must prune to
    one partition directory (PartitionFilters at the scan, not a
    post-scan filter) — the property that makes daily aggregates read
    a day, not the lake, at 100 TB."""
    from streaming_ecom_analytics_spark import catalog
    from streaming_ecom_analytics_spark.sources.lake import Lake

    ev = catalog.events(spark, SF_DIR).withColumn("event_date", F.to_date("ts"))
    lake = Lake(str(tmp_path))
    lake.write(ev, "raw", "events", partition_by=("event_date",))

    one_day = lake.read(spark, "raw", "events").filter(
        F.col("event_date") == "2024-01-05"
    )
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # the date predicate lives in PartitionFilters (partition-index
    # pruning), NOT in PushedFilters/post-scan Filter
    assert "event_date" in pf
    assert one_day.count() > 0
    # pruning is observable in the work done: the one-day scan reads a
    # small fraction of the full table's rows
    assert one_day.count() < ev.count() / 5


def test_streaming_uses_stateful_agg(spark):
    """The tumbling plan on a stream compiles to a stateful aggregate."""
    from streaming_ecom_analytics_spark.schema import TESTDATA_EVENT_SCHEMA
    from streaming_ecom_analytics_spark.streaming import windows

    stream = spark.readStream.schema(TESTDATA_EVENT_SCHEMA).parquet(SF_DIR)
    agg = windows.tumbling_event_counts(stream, watermark="1 hour")
    assert agg.isStreaming
    logical = agg._jdf.queryExecution().logical().toString()
    assert "EventTimeWatermark" in logical


def test_chunking_is_shuffle_free(spark):
    """doc_chunks is a pure projection chain — any Exchange means the
    packing pass would reshuffle the whole corpus at scale."""
    plan = _plan(spark, "doc_chunks")
    assert "Exchange" not in plan
    assert "PythonMapInArrow" not in plan and "FlatMapGroupsInPandas" not in plan


def test_decontamination_pushes_source_filter(spark):
    """The corpus/benchmark split (source filter) must reach the
    parquet scan, and no text column may appear in an Exchange's
    output — only doc_id + shingle keys shuffle."""
    plan = _plan(spark, "decontaminate_ngrams")
    assert "PushedFilters" in plan
    pushed = [seg[:160] for seg in plan.split("PushedFilters")[1:]]
    assert any("source" in seg for seg in pushed)


def test_cross_corpus_dedup_is_anti_join_on_hash(spark):
    """dedup_cross_corpus anti-joins on the md5 — never the text."""
    plan = _plan(spark, "dedup_cross_corpus")
    assert "LeftAnti" in plan
    anti_segment = plan.split("LeftAnti", 1)[0][-400:] + plan.split("LeftAnti", 1)[1][:400]
    assert "__content_hash" in anti_segment


def test_funnel_is_partitionwise_single_shuffle(spark):
    """The batch funnel must be ONE hash repartition + in-partition
    sort + mapInPandas — a per-group applyInPandas (FlatMapGroupsIn*)
    or a second Exchange is the per-user-overhead regression."""
    plan = _plan(spark, "funnel_conversions")
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan or "PythonMapInArrow" in plan or "MapInArrow" in plan
    # exactly one Exchange: the user_id repartition
    assert plan.count("Exchange hashpartitioning") == 1


def test_ngram_frequency_two_phase_topk(spark):
    """Partial agg before the shuffle, TakeOrderedAndProject at the
    top — the full n-gram distribution is never globally sorted."""
    plan = _plan(spark, "ngram_doc_frequency")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_pii_and_splits_are_shuffle_free(spark):
    """Narrow curation ops must not introduce any exchange."""
    for name in ("pii_redaction", "train_val_test_split"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name


def test_stratified_sample_prunes_window_groups(spark):
    """row_number <= n must push a per-group limit into the sort
    (WindowGroupLimit, Spark 3.5+) — executors keep n rows per
    stratum instead of sorting whole strata."""
    plan = _plan(spark, "stratified_sample")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") <= 2  # one shuffle on the stratum key (+AQE read)


def test_tfidf_single_token_explode(spark):
    """TF-IDF reads/explodes tokens once; document frequency must
    re-aggregate the (doc,term) grid, not re-explode the corpus."""
    plan = _plan(spark, "tfidf_top_terms")
    assert plan.count("Generate") == 1
    assert "CartesianProduct" not in plan  # N-docs joins as broadcast single row


def test_pack_sequences_ships_counts_not_text(spark):
    """Only (group, id, n_tokens) may cross into the Python stage."""
    plan = _plan(spark, "pack_sequences")
    assert "FlatMapGroupsInPandas" in plan
    import re
    seg = plan.split("FlatMapGroupsInPandas", 1)[0]
    assert "text" not in seg.split("Scan parquet", 1)[0]  # no text col above the scan


def test_interval_join_is_equi_join(spark):
    """The range join must compile to a hash equi-join on
    (key, bucket) — never BroadcastNestedLoopJoin / CartesianProduct
    (the naive non-equi plan)."""
    plan = _plan(spark, "event_session_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_rollup_reaggregates_from_cache(spark):
    """Coarser grains must re-aggregate the finer cached aggregate:
    every union branch reads an InMemoryTableScan (the plan string
    repeats the cached subtree's *description* per reference, but the
    file scan executes once and all reuse goes through the cache)."""
    plan = _plan(spark, "revenue_time_rollup")
    assert plan.count("InMemoryTableScan") >= 4  # hour×2, day×2


def test_rfm_avoids_global_window(spark):
    """RFM quartiles must come from a scalar percentile aggregate, NOT
    a global ntile window — an empty-partition-spec Window funnels the
    whole user table through one task at scale."""
    plan = _plan(spark, "rfm_segments")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row threshold joins


def test_cohort_retention_broadcasts_cohort_sizes(spark):
    plan = _plan(spark, "cohort_retention")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_anomaly_window_is_over_daily_grain_only(spark):
    """The (tiny-by-construction) global window must sit ABOVE the
    daily aggregate — i.e. exactly one Window, fed by a HashAggregate,
    with the event_type filter still pushed to the scan."""
    plan = _plan(spark, "revenue_anomaly_zscore")
    assert plan.count("Window") >= 1
    assert "HashAggregate" in plan
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters", 1)[1][:200]


def test_cdc_upsert_no_global_sort(spark):
    """MERGE apply: per-key window for latest-change, no global Sort
    over the snapshot, scan filters pushed."""
    plan = _plan(spark, "cdc_upsert")
    # Sort nodes must all be local (window/SMJ partition-local sorts)
    assert "Sort [" not in plan or "global=true" not in plan.split("Sort [", 1)[1][:120].replace(" ", "")
    assert "PushedFilters" in plan


def test_bloom_semi_join_broadcasts_bits_not_facts(spark):
    """The bloom probe must broadcast the bit table; the orders fact
    table must not appear on a broadcast side."""
    plan = _plan(spark, "bloom_filtered_orders")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # final exact semi join present
    assert "LeftSemi" in plan


def test_incremental_merge_is_one_aggregate_over_union(spark):
    """Snapshot+delta merge = union + keyed hash aggregate; partial
    aggregation must compress map-side (two-phase)."""
    plan = _plan(spark, "incremental_daily_revenue")
    assert "Union" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_hll_rollup_reaggregates_sketches_not_rows(spark):
    """The month rollup's input is the day-grain sketch table (union of
    fixed-size blobs), not a rescan: two aggregate layers stacked."""
    plan = _plan(spark, "approx_users_monthly_rollup")
    assert "hll_union_agg" in plan or "HllUnionAgg" in plan or "hll" in plan.lower()
    assert plan.count("HashAggregate") >= 4  # day partial/final + month partial/final


def test_q6_all_predicates_push_to_scan(spark):
    """forecast_revenue_change: shipdate/discount/quantity filters and
    the 4-column projection all reach the parquet reader; no exchange
    except the single final-aggregate gather."""
    plan = _plan(spark, "forecast_revenue_change")
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema and "l_tax" not in read_schema


def test_q3_broadcasts_filtered_customer_and_takes_topk(spark):
    plan = _plan(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_single_shuffle_join_all_dims_broadcast(spark):
    """local_supplier_volume joins 6 tables; only orders⋈lineitem may
    shuffle — region/nation/customer/supplier are broadcast."""
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    # exchanges: at most the one fact-fact join pair + agg + AQE reads
    assert plan.count("SortMergeJoin") <= 1


def test_q17_uses_window_not_self_join(spark):
    """small_quantity_revenue derives the per-part average via a
    window over the already-joined rows — no second lineitem scan."""
    plan = _plan(spark, "small_quantity_revenue")
    assert plan.count("Scan parquet") == 2  # lineitem + part, once each
    assert "Window" in plan


def test_q19_derives_single_side_residuals(spark):
    """brand_bracket_revenue's OR-of-ANDs must still prune both scans:
    the quantity envelope reaches lineitem, the brand IN-list part."""
    plan = _plan(spark, "brand_bracket_revenue")
    li_scan = plan.split("Scan parquet", 1)[1]
    assert "l_quantity" in plan.split("PushedFilters", 1)[1][:600] or "l_quantity" in li_scan
    assert "p_brand" in plan


def test_rolling_features_single_user_exchange(spark):
    """rolling_user_spend_7d: one hash exchange on user_id feeds the
    RANGE window — never a global (unpartitioned) window."""
    plan = _plan(spark, "rolling_user_spend_7d")
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_negative_sampling_constant_work_no_catalog_nested_loop(spark):
    """purchase_negative_samples (round-5 verdict #2): the user×catalog
    product is gone. The ONLY nested-loop joins are against the
    broadcast 1-row bucket-count frame (one for the catalog bucketing,
    one for the user draws); the catalog itself joins via a bucket-keyed
    equi-join, and positives are removed by an anti join."""
    plan = _plan(spark, "purchase_negative_samples")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # exactly the two scalar-B cross joins — a third would mean the
    # full catalog is back on a nested loop
    assert plan.count("BroadcastNestedLoopJoin") == 2
    # the catalog joins on the hash bucket, as an equi-join
    assert "__bkt" in plan


def test_bm25_shuffles_postings_not_vocabulary(spark):
    """bm25_doc_ranking: the query-term IN filter must land before the
    (doc, term) aggregate so the term shuffle carries the 3-term
    postings, and top-k fuses to TakeOrderedAndProject."""
    plan = _plan(spark, "bm25_doc_ranking")
    assert "TakeOrderedAndProject" in plan
    # the isin filter applies on the exploded words, pre-aggregation
    assert "term#" in plan and " IN (spark,join,window)" in plan


# ---- TPC-H deep-cut shapes (plans/tpch_deep.py) ----


def test_q4_exists_compiles_to_semi_join(spark):
    """order_priority_check: the EXISTS is one semi-join (no distinct,
    no duplicate-order inflation) with the date gate pushed to scan."""
    plan = _plan(spark, "order_priority_check")
    assert "LeftSemi" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "o_orderdate" in pushed


def test_q13_left_outer_preserves_zero_order_customers(spark):
    """customer_order_distribution: outer join (zeros must survive)
    and two separate hash aggregates (customer grain, then count
    grain)."""
    plan = _plan(spark, "customer_order_distribution")
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4  # 2 aggregates x partial/final


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = _plan(spark, "part_supplier_diversity")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_semi_and_anti_on_same_fact(spark):
    """sole_late_supplier_blame: the EXISTS/NOT-EXISTS pair compiles
    to one semi plus one anti join — never a correlated re-execution
    per row."""
    plan = _plan(spark, "sole_late_supplier_blame")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_is_window_not_self_join(spark):
    """min_cost_supplier: per-part minimum via one Window over the
    single unit-price aggregate — lineitem is scanned once."""
    plan = _plan(spark, "min_cost_supplier")
    assert "Window" in plan
    assert plan.count("FileScan parquet") <= 4  # lineitem once + 3 dims


def test_q15_scalar_max_is_broadcast_not_sort(spark):
    """top_supplier_revenue: the max-revenue gate is a broadcast join
    against a one-row aggregate; no global sort of supplier revenues."""
    plan = _plan(spark, "top_supplier_revenue")
    assert "BroadcastHashJoin" in plan


def test_pq_adc_scoring_is_jvm_side(spark):
    """pq_topk's Python boundary is exactly two Arrow-batched
    mapInPandas passes (corpus encode + per-query LUTs); the ADC
    scoring over every (query, code) pair — the hot path — must be a
    JVM higher-order fold, never per-row Python."""
    from streaming_ecom_analytics_spark import catalog
    from streaming_ecom_analytics_spark.functions import similarity

    emb = catalog.embeddings(spark, SF_DIR)
    q = emb.filter(F.col("vec_id") < 3)
    plan = (
        similarity.pq_topk(emb, q, k=3, dim=64)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 2  # encode + LUTs, nothing else
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    # the ADC fold is a Catalyst higher-order expression (the sequence
    # literal constant-folds, so match the lambda + LUT indexing)
    assert "lambdafunction" in plan and "luts" in plan


def test_containment_and_hamming_joins_never_cartesian(spark):
    """The candidate joins of the verbatim-containment and perceptual
    Hamming dedup families are equi-joins on their blocking keys —
    never a cartesian/nested-loop product."""
    from streaming_ecom_analytics_spark import catalog
    from streaming_ecom_analytics_spark.functions import dedup as dd
    from streaming_ecom_analytics_spark.functions import text as textops

    docs = catalog.documents(spark, SF_DIR)
    p1 = (
        textops.doc_containment(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    sigs = spark.range(10).selectExpr("id", "id * 7919 AS sig")
    p2 = (
        dd.hamming_pairs(sigs, id_col="id", sig_col="sig", max_hamming=5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for plan in (p1, p2):
        assert "Join Cross" not in plan and "CartesianProduct" not in plan


def test_new_joins_never_nested_loop(spark):
    """Skyline, attribution, assoc rules, kmeans: none may plan a
    cartesian/nested-loop join (the broadcast of 1-row scalar frames
    and the deliberate centroid cross join are the only BNLJ-free
    exceptions — centroids broadcast, so even that must not be a
    CartesianProduct)."""
    for name in (
        "part_skyline",
        "linear_attribution_daily",
        "assoc_rules",
        "kmeans_assign_fixed",
        "kmeans_lloyd_update",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_bigram_topk_is_take_ordered(spark):
    """The collocation top-50 must fuse to TakeOrderedAndProject —
    never a global sort of the bigram vocabulary."""
    plan = _plan(spark, "bigram_collocations")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [pmi" not in plan


def test_kmeans_centroids_broadcast(spark):
    """The k-centroid side of the assignment cross join broadcasts;
    the argmin is a partial-aggregable hash aggregate (two-phase),
    not a row_number window."""
    plan = _plan(spark, "kmeans_assign_fixed")
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_skyline_prune_is_partitioned_window(spark):
    """skyline_2d's first pass partitions by the x class (parallel);
    only the value-class frame hits the global running-min window."""
    plan = _plan(spark, "part_skyline")
    # both windows present; the per-class prune must come with a
    # hash-partitioned exchange on the price class
    assert plan.count("Window") >= 2
    assert "hashpartitioning(__price_cents" in plan


def test_late_round_queries_never_cartesian(spark):
    """The second wave of round-4 queries: no cartesian products —
    scalar 1-row frames and centroid sets must broadcast, diffs and
    evals must stay equi-joins."""
    for name in (
        "orders_snapshot_diff",
        "cooccurrence_hitrate_eval",
        "span_dedup_docs",
        "purchases_vs_item_baseline",
        "item_kcore",
        "kmeans_fit_trace",
        "linear_attribution_daily",
        "events_k_anonymity",
        "fk_integrity_audit",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_snapshot_diff_joins_hashes_not_rows(spark):
    """orders_snapshot_diff's full-outer join must carry the md5 row
    hash, not the payload columns (o_orderstatus etc. are hashed away
    before the exchange)."""
    plan = _plan(spark, "orders_snapshot_diff")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    join_on = plan.split("FullOuter", 1)
    assert len(join_on) == 2, "expected a full-outer join in the plan"


def test_imputation_median_table_broadcasts(spark):
    plan = _plan(spark, "imputed_event_values")
    assert "BroadcastExchange" in plan


def test_item_jaccard_topk_fuses_and_never_cartesian(spark):
    """item_jaccard_topk: the pair blow-up is the per-order equi
    self-join (bounded by basket size, never |parts|²), and the top-25
    fuses to TakeOrderedAndProject — no global sort of the pair
    space."""
    plan = _plan(spark, "item_jaccard_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_revenue_pareto_windows_aggregate_reads_cache(spark):
    """revenue_pareto: the global running-sum window runs over the
    per-customer AGGREGATE, which is persisted so the three scalar
    readouts share one orders scan; the scalar frames broadcast."""
    plan = _plan(spark, "revenue_pareto")
    assert "InMemoryTableScan" in plan  # cr persisted, scanned not recomputed
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_eval_audit_windows_run_on_histograms(spark):
    """embedding_centroid_auc / centroid_score_decile_lift: the ordered
    rank window runs over the distinct-SCORE histogram (a post-
    aggregate frame), so the plan is agg → window → agg with the
    centroid broadcast — never a corpus-wide sort before aggregation,
    and never a cartesian product."""
    for name in ("embedding_centroid_auc", "centroid_score_decile_lift"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastExchange" in plan, name
        # the window consumes the dm-histogram aggregate, not raw rows
        assert plan.index("Window") < plan.index("FileScan"), name


def test_lm_gap_counts_tables_shuffle_once(spark):
    """lm_generalization_gap: one documents scan feeds tokens and
    bigrams; the scoring joins shuffle doc-bigrams against vocab-sized
    count tables; the vocab scalar broadcasts; no cartesian."""
    plan = _plan(spark, "lm_generalization_gap")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_round5_late_wave_never_cartesian(spark):
    """retention / forecast / anomaly / discount / basket / corr /
    rank-profile / WoW: no cartesian products; scalar frames and dims
    broadcast where present."""
    for name in (
        "retention_day_n",
        "revenue_forecast_baseline",
        "revenue_forecast_anomalies",
        "discount_banded_demand",
        "basket_size_distribution",
        "brand_price_quantity_corr",
        "customer_spend_rank_profile",
        "weekly_revenue_wow",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_corr_is_single_aggregate_with_broadcast_dim(spark):
    """brand_price_quantity_corr: one fact scan, the part dim reaches
    it as a broadcast-hash join, and the moment sums are one two-phase
    hash aggregate — no second pass over lineitem for the closed
    form."""
    plan = _plan(spark, "brand_price_quantity_corr")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # brand agg only
    assert plan.count("HashAggregate") >= 2


def test_discount_band_single_pass(spark):
    plan = _plan(spark, "discount_banded_demand")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_brand_concentration_two_phase_no_smj(spark):
    """customer_brand_concentration: both dims reach the fact via
    size-gated broadcasts (no sort-merge join at these dim sizes), the
    (custkey, brand) count and the per-customer HHI are hash
    aggregates, and only two hash-partition exchanges exist — the
    group-by keys, nothing else."""
    plan = _plan(spark, "customer_brand_concentration")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") >= 4  # two-phase × two levels


def test_full_assortment_division_shape(spark):
    """full_assortment_customers (relational division): the divisor
    cardinality is a broadcast scalar, joins stay broadcast-hash, and
    the count-distinct rewrite keeps the exchanges to the three
    grouping keys."""
    plan = _plan(spark, "full_assortment_customers")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("Exchange hashpartitioning") <= 3


def test_session_bounce_rate_single_scan_two_exchanges(spark):
    """session_bounce_rate: one events scan, sessionization plus the
    bounce rollup in exactly two exchanges (user/session keys, then
    the day grain), no joins."""
    plan = _plan(spark, "session_bounce_rate")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_doc_novelty_single_scan_single_content_shuffle(spark):
    """doc_novelty_scores: ONE pass over documents (no self-join of
    the corpus), the first-seen resolution is a single content-keyed
    window — not an agg+join-back — and no broadcast of anything
    row-scaled."""
    plan = _plan(spark, "doc_novelty_scores")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Window") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_split_leakage_audit_split_is_projection_not_second_pipeline(spark):
    """split_leakage_audit: the split tag must be a narrow md5
    PROJECTION of doc_id (exactly two ascii(md5) projections, one per
    pair side) — never a join back to a second curation pipeline —
    and the pair set must come from the banded-LSH path (band-hash
    equi-joins, persisted/reused subtrees), with no cartesian
    anywhere."""
    plan = _plan(spark, "split_leakage_audit")
    assert "CartesianProduct" not in plan
    # the split tag is the inline ascii(md5(doc_id)) bucket expression
    # (rendered up to 8x across the two pair-side projections), never a
    # join key to a separately-curated frame
    assert 2 <= plan.count("ascii(") <= 8
    assert "band_hash" in plan  # banded candidates, not all-pairs
    assert "InMemoryTableScan" in plan  # shared subtrees cached once
    # a second curation pipeline would add document scans beyond the
    # LSH pipeline's own
    assert plan.count("FileScan parquet") <= 16


def test_contrastive_pairs_persists_neardup_and_blocks_negative_search(spark):
    """contrastive_pairs: the near-dup positive set is persisted and
    consumed by BOTH anchor directions (InMemoryTableScan x2 — removing
    the persist recomputes the block-Gram subtree twice and fails
    here), the hard-negative search is BLOCK-LOCAL (round 12: one
    applyInArrow float64 Gram per md5 block keyed by `blk`, replacing
    the anchors×block equi-join of per-row fold cosines — never
    all-pairs), and the only nested-loop is the bounded block-pair
    frame inside the near-dup candidate generator."""
    plan = _plan(spark, "contrastive_pairs")
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    # negative stage: grouped Arrow Gram keyed on the md5 block
    assert "PythonGroupedMap" in plan or "FlatMapGroupsInArrow" in plan
    assert "blk" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_retention_day_n_single_window_cached_distinct(spark):
    """retention_day_n: per-user first day is ONE user-partitioned
    window over the cached DISTINCT (user, day) frame (reused by the
    cohort scalar — InMemoryTableScan x2), the cohort total rides a
    broadcast scalar nested-loop, and no sort-merge join or cartesian
    appears."""
    plan = _plan(spark, "retention_day_n")
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # broadcast cohort scalar
    assert plan.count("InMemoryTableScan") >= 2


def test_lm_generalization_gap_token_frame_shared_once(spark):
    """lm_generalization_gap: the tokenized documents frame feeds four
    branches (all-bigrams, train bigram counts, train unigram counts,
    vocab) through ONE persisted subtree — re-deriving it per branch
    drops the InMemoryTableScans and fails here. Scoring joins stay
    broadcast (counts tables are vocab-sized); vocab is a broadcast
    scalar."""
    plan = _plan(spark, "lm_generalization_gap")
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # broadcast vocab scalar


def test_brand_price_corr_single_agg_broadcast_dim(spark):
    """brand_price_quantity_corr: one fact scan + one broadcast dim
    join, ONE brand-keyed exchange, two-phase hash aggregation of the
    exact moment sums — the closed form is a projection, not another
    shuffle."""
    plan = _plan(spark, "brand_price_quantity_corr")
    assert plan.count("FileScan parquet") == 2
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2


def test_gopher_and_encoding_audits_zero_shuffle(spark):
    """gopher_quality_flags and doc_encoding_audit claim zero-shuffle
    single-scan projections — every rule folds JVM-side over the split
    array / regexp lengths. Any Exchange or Join appearing here is a
    regression."""
    for name in ("gopher_quality_flags", "doc_encoding_audit"):
        plan = _plan(spark, name)
        assert plan.count("FileScan parquet") == 1, name
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name


def test_dominant_part_suppliers_single_fact_scan(spark):
    """TPC-H Q20 flavor: the per-part total is a window over the
    (part, supplier) rollup — lineitem is scanned ONCE (the agg+join
    form scanned it twice); part and supplier ride broadcasts."""
    plan = _plan(spark, "dominant_part_suppliers")
    assert plan.count("FileScan parquet") == 3  # lineitem + part + supplier
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_dominant_part_suppliers_gate_is_not_degenerate(spark):
    """Round-6 advisor finding: the absolute >50%-share gate returned
    ZERO rows at every shipped SF (every part has 11+ suppliers, max
    share ≈0.26), making the oracle parity vacuous — an empty result
    hash-matches any wrong plan that is also empty. The fair-share
    gate (share > 1.5/n_supp) must produce rows on the shipped data so
    the value-level check actually checks values."""
    from streaming_ecom_analytics_spark.plans.registry import REGISTRY

    out = REGISTRY["dominant_part_suppliers"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) > 0
    assert all(r.n_dominated_parts >= 1 and r.dominated_qty > 0 for r in out)


def test_cuped_and_cusum_cache_their_grain_frame(spark):
    """cuped_adjusted_ab persists the user-grain frame (pooled moments
    + variant rollup consume it); revenue_cusum_drift persists the day
    spine (scalar + windows). Removing either persist doubles the
    events scan and fails here."""
    for name in ("cuped_adjusted_ab", "revenue_cusum_drift"):
        plan = _plan(spark, name)
        assert plan.count("InMemoryTableScan") >= 2, name
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_hot_shingles_counts_corpus_without_reexploding(spark):
    """hot_shingles' denominator is a narrow documents count, not a
    second pass over the exploded shingle frame: exactly two scans
    (shingle derivation + doc_id count), top-20 fused."""
    plan = _plan(spark, "hot_shingles")
    assert plan.count("FileScan parquet") == 2
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Generate explode") <= 1  # one shingle explode only


def test_zipf_fit_topk_before_rank_window(spark):
    """term_zipf_fit must take its top-200 via TakeOrderedAndProject
    (distributed partial top-K) BEFORE the rank window — a row_number
    window over the full term table would funnel the whole vocabulary
    through one partition at web scale."""
    plan = _plan(spark, "term_zipf_fit")
    assert "TakeOrderedAndProject" in plan
    # the window must consume the TOAP output, not the raw aggregate:
    # TOAP appears BELOW (after, in tree order) the Window node
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_new_vs_returning_single_user_exchange(spark):
    """daily_new_vs_returning derives first-purchase-day with a
    min-over-window on the user partition — ONE user_id exchange and
    zero joins, vs the agg+join-back form's two exchanges plus a
    join on the same key."""
    plan = _plan(spark, "daily_new_vs_returning")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_manifest_contains_curation_subtree_once(spark):
    """training_export_manifest attaches the md5 split INLINE
    (curate.with_split) on the curated frame. The old form —
    cur.join(assign_splits(cur)) — duplicated the entire curation
    subtree across both join inputs (ReuseExchange can't merge them),
    paying the engine's most expensive pipeline twice. Pin: the
    manifest plan scans the documents table exactly as many times as
    the curation plan itself does, and adds NO doc_id join exchange
    on top of it."""
    manifest = _plan(spark, "training_export_manifest")
    curated = _plan(spark, "curated_documents")
    docs_scans = lambda p: p.count("documents.parquet")  # noqa: E731
    assert docs_scans(curated) > 0
    assert docs_scans(manifest) == docs_scans(curated)
    # the split is a projection, not a join: no additional doc_id
    # hash-partition exchanges beyond what curation itself needs
    exch = lambda p: p.count("Exchange hashpartitioning(doc_id")  # noqa: E731
    assert exch(manifest) <= exch(curated)


# ---------------------------------------------------------------------------
# Global-window allowlist (round-6 verdict #6)
# ---------------------------------------------------------------------------

# Every query that legitimately carries an UNPARTITIONED window, with its
# exact count. Each is a provably bounded frame — day spines (≤ a few
# hundred rows after aggregation), |partitions|-row offset tables
# (operators/prefix.py), sketch-sized rank frames, top-200 Zipf frames —
# documented in PLANS.md. A NEW entry appearing here means someone put a
# global window on a data-scaled frame: fix the plan, don't grow the list.
GLOBAL_WINDOW_ALLOWLIST = {
    "category_abc_classes": 1,
    "centroid_score_decile_lift": 1,
    # prefix.global_rank's offset pass — |partitions| rows, bounded by
    # cluster config, not data (same frame as revenue_pareto_scaled's)
    "curriculum_schedule": 1,
    "embedding_centroid_auc": 1,
    "gapfilled_highvalue_revenue": 1,
    "heavy_hitters_mg": 1,
    # lexical rank over bm25_rank's top_k=50 output — the frame is
    # reduced to 50 rows by TakeOrderedAndProject BEFORE the window
    "hybrid_search_rrf": 1,
    "jaccard_band_histogram": 1,
    "orders_mom_growth": 1,
    "part_skyline": 1,
    "revenue_anomaly_zscore": 1,
    "revenue_cusum_drift": 2,
    "revenue_forecast_anomalies": 4,
    "revenue_forecast_baseline": 1,
    "revenue_pareto": 1,
    "revenue_pareto_scaled": 1,
    "running_daily_order_revenue": 1,
    "term_zipf_fit": 1,
    "user_growth_curve": 1,
    "weekly_revenue_wow": 1,
}


def test_global_windows_pinned_to_documented_allowlist(spark):
    """Fingerprint every registered query's plan and pin the set of
    queries with unpartitioned windows to the documented allowlist —
    both directions: no NEW global window sneaks in (the single-
    partition funnel is the classic 100 TB killer), and an allowlisted
    one disappearing means the plan changed and the list must follow.
    This is the structural replacement for eyeballing WindowExec's
    (now muted) per-run warnings."""
    import importlib.util
    from pathlib import Path

    from streaming_ecom_analytics_spark.caching import release_tracked

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    got: dict[str, int] = {}
    for name in sorted(REGISTRY):
        plan = _plan(spark, name)
        release_tracked()
        n = mod.plan_fingerprint(plan)["n_global_windows"]
        if n:
            got[name] = n
    assert got == GLOBAL_WINDOW_ALLOWLIST


def test_triangle_family_persists_edges_once(spark):
    """Round-6 verdict #8: the ordered-triple join references the
    co-occurrence edge frame three times (plus degree in the clustering
    variant); without a persist each reference re-derives the whole
    upstream fact-table aggregate. The persisted edge frame must appear
    as InMemoryTableScan at every reference."""
    for name, min_refs in (
        ("item_triangles", 3),
        ("item_clustering_coefficients", 4),
    ):
        plan = _plan(spark, name)
        assert plan.count("InMemoryTableScan") >= min_refs, name
        assert "CartesianProduct" not in plan, name


def test_fixpoint_family_exchange_budget(spark):
    """Exchange-count budgets for the plan-size outliers (round-6
    verdict #8): the triangle/clustering pair are the exchange-heaviest
    plans in the registry. Pin a ceiling so a regression that adds
    shuffles (lost exchange reuse, a broken persist, a join strategy
    flip) fails loudly. Round-8 retightening: n_exchanges now counts
    CONSUMER-plan exchanges only (cache-build subtrees are separate —
    round-7 verdict #2), so the measured counts dropped 58→13 / 69→14;
    ceilings are those plus small slack for AQE variation across Spark
    versions. The cache-build budget is pinned too: it inflating means
    the persisted edge frame's upstream got heavier.

    Round-11 rebaseline: the edge input moved into the family-shared
    co-occurrence subtree (one persisted build feeds item_triangles /
    item_clustering_coefficients / item_cooccurrence per pass), which
    nests the co-occurrence pipeline's own persisted frames INSIDE the
    shared frame's build plan — the static string count sees those
    exchanges twice (measured 63 / 77 vs 50 / 60 before), while the
    EXECUTED exchanges per pass dropped (one build for three queries).
    Consumer-plan ceilings are unchanged — they are the per-query
    regression signal."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    budgets = {
        "item_triangles": (16, 70),
        "item_clustering_coefficients": (18, 85),
    }
    for name, (budget, cache_budget) in budgets.items():
        fp = mod.plan_fingerprint(_plan(spark, name))
        assert fp["n_exchanges"] <= budget, (name, fp["n_exchanges"])
        assert fp["n_cache_build_exchanges"] <= cache_budget, (
            name,
            fp["n_cache_build_exchanges"],
        )


def test_fingerprint_counts_cache_build_exchanges_separately(spark):
    """Round-7 verdict #2: adding a persist INFLATED the fingerprint's
    n_exchanges (the InMemoryRelation's nested build plan was counted
    per reference), so the ledger contradicted the prose and exchange
    budgets couldn't anchor regressions. The fingerprint must count
    cache-build subtrees separately: a persist-only change shifts
    exchanges from n_exchanges into n_cache_build_exchanges, never
    raises the main count."""
    import importlib.util
    from pathlib import Path

    from pyspark.sql import functions as F

    from streaming_ecom_analytics_spark.caching import (
        persist_tracked,
        release_tracked,
    )

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    agg = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
    plain = agg.unionByName(agg)
    fp_plain = mod.plan_fingerprint(
        plain._jdf.queryExecution().executedPlan().toString()
    )
    c = persist_tracked(agg)
    cached = c.unionByName(c)
    fp_cached = mod.plan_fingerprint(
        cached._jdf.queryExecution().executedPlan().toString()
    )
    release_tracked()
    assert fp_plain["n_exchanges"] == 2  # the build shuffle, twice
    assert fp_cached["n_exchanges"] == 0  # consumers only scan the cache
    assert fp_cached["n_cache_build_exchanges"] >= 1
    assert fp_cached["n_inmemory_scans"] == 2


def test_persist_tracked_is_idempotent(spark):
    """Composing operators may persist the same frame object twice
    (clustering_coefficients -> triangle_counts); the second call must
    be a no-op (no double-track, no 'already cached' churn) and the
    frame stays cached until ONE release."""
    from streaming_ecom_analytics_spark import caching

    df = spark.range(10)
    a = caching.persist_tracked(df)
    n_tracked = len(caching._TRACKED)
    b = caching.persist_tracked(a)
    assert b is a
    assert len(caching._TRACKED) == n_tracked  # not tracked twice
    assert a.storageLevel.useMemory
    caching.release_tracked()
    assert not df.storageLevel.useMemory


def test_dumped_fingerprint_ignores_a_sibling_materializing_the_shared_subtree(spark):
    """A family-shared subtree prints its AQE final plan once a sibling
    consumer has run it. The dump routine must give one fingerprint per
    query whatever state its shared subtrees were left in."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "dump_plans", Path(__file__).resolve().parents[1] / "scripts" / "dump_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    before = mod.query_fingerprint(spark, "near_dup_minhash_lsh", SF_DIR)
    # dedup_clusters reads the same persisted LSH pair set and runs it
    REGISTRY["dedup_clusters"].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    after = mod.query_fingerprint(spark, "near_dup_minhash_lsh", SF_DIR)
    assert before == after
