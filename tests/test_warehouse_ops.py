"""Unit tests for the warehouse-tier operators: CDC merge apply, SCD2
history, cohort/RFM/anomaly analytics, HLL rollups.

Oracle parity for the registered queries lives in test_oracle_parity.py
(registry-wide); these tests pin the operator SEMANTICS on purpose-built
tiny frames — multi-change keys, delete/upsert ties, tier flip-flops,
constant series — that the testdata does not guarantee to contain.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.functions import sketch
from streaming_ecom_analytics_spark.operators import analytics, cdc


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# apply_changes
# ---------------------------------------------------------------------------


def test_apply_changes_upsert_delete_insert(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 1, "U"),  # update existing
            (3, None, 1, "D"),  # delete existing
            (4, "d", 1, "U"),  # insert new
            (5, None, 1, "D"),  # delete of absent key = no-op
        ],
        ["k", "v", "seq", "op"],
    )
    out = cdc.apply_changes(base, changes, key_cols=["k"], seq_col="seq")
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a"), (2, "b2"), (4, "d")}


def test_apply_changes_latest_seq_wins_and_tie_prefers_upsert(spark):
    base = spark.createDataFrame([(1, "a")], ["k", "v"])
    changes = spark.createDataFrame(
        [
            (1, "x", 1, "U"),
            (1, None, 2, "D"),
            (1, "y", 3, "U"),  # highest seq → survives
            (2, None, 7, "D"),
            (2, "z", 7, "U"),  # same seq: 'U' > 'D' lexically → upsert wins
        ],
        ["k", "v", "seq", "op"],
    )
    out = cdc.apply_changes(base, changes, key_cols=["k"], seq_col="seq")
    assert {(r.k, r.v) for r in out.collect()} == {(1, "y"), (2, "z")}


# ---------------------------------------------------------------------------
# scd2_intervals
# ---------------------------------------------------------------------------


def test_scd2_intervals_versions_and_current_flag(spark):
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 10, "low"),
        (1, _ts("2024-01-02T00:00:00"), 11, "low"),  # no change → absorbed
        (1, _ts("2024-01-03T00:00:00"), 12, "high"),  # version 2
        (1, _ts("2024-01-04T00:00:00"), 13, "low"),  # version 3 (flip back)
        (2, _ts("2024-01-01T00:00:00"), 20, "mid"),  # single version
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "tier"])
    out = cdc.scd2_intervals(
        df, key_col="user_id", ts_col="ts", attr_col="tier", tiebreak_col="event_id"
    )
    got = {
        (r.user_id, r.tier, r.effective_from.isoformat(), r.effective_to.isoformat(), r.is_current)
        for r in out.collect()
    }
    open_end = _ts(cdc.SCD2_OPEN_END.replace(" ", "T")).isoformat()
    assert got == {
        (1, "low", "2024-01-01T00:00:00", "2024-01-03T00:00:00", 0),
        (1, "high", "2024-01-03T00:00:00", "2024-01-04T00:00:00", 0),
        (1, "low", "2024-01-04T00:00:00", open_end, 1),
        (2, "mid", "2024-01-01T00:00:00", open_end, 1),
    }


def test_scd2_half_open_intervals_tile_without_gaps(spark):
    # adjacent versions share the boundary instant: to = next.from
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a"),
        (1, _ts("2024-01-05T00:00:00"), 2, "b"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "attr"])
    out = cdc.scd2_intervals(
        df, key_col="user_id", ts_col="ts", attr_col="attr", tiebreak_col="event_id"
    ).orderBy("effective_from")
    a, b = out.collect()
    assert a.effective_to == b.effective_from


# ---------------------------------------------------------------------------
# pit_join
# ---------------------------------------------------------------------------


def test_pit_join_attaches_version_valid_at_event_time(spark):
    hist = spark.createDataFrame(
        [
            ("u1", "bronze", "2024-01-01", "2024-02-01"),
            ("u1", "gold", "2024-02-01", "2200-01-01"),
        ],
        "user_id string, tier string, effective_from string, effective_to string",
    ).select(
        "user_id",
        "tier",
        F.col("effective_from").cast("timestamp").alias("effective_from"),
        F.col("effective_to").cast("timestamp").alias("effective_to"),
    )
    facts = spark.createDataFrame(
        [
            ("e0", "u1", "2023-12-25"),  # before any version -> no tier
            ("e1", "u1", "2024-01-15"),  # inside v1
            ("e2", "u1", "2024-02-01"),  # boundary: half-open, belongs to v2
            ("e3", "u2", "2024-03-01"),  # key with no history -> no tier
        ],
        "event_id string, user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = cdc.pit_join(facts, hist, key_col="user_id", ts_col="ts")
    got = {r["event_id"]: r["tier"] for r in out.collect()}
    assert got == {"e0": None, "e1": "bronze", "e2": "gold", "e3": None}
    # tiled intervals => at most one match per fact: row count preserved
    assert out.count() == facts.count()


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def test_cohort_retention_counts_and_fraction(spark):
    rows = [
        # cohort day 1: users 1,2; day 2 retains only user 1
        (1, _ts("2024-01-01T01:00:00")),
        (2, _ts("2024-01-01T02:00:00")),
        (1, _ts("2024-01-02T01:00:00")),
        # user 3 starts day 2 → its own cohort
        (3, _ts("2024-01-02T03:00:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {
        (r.cohort_day.date().isoformat(), r.day_offset): (
            r.active_users,
            r.cohort_size,
            r.retention,
        )
        for r in analytics.cohort_retention(df).collect()
    }
    assert out == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
        ("2024-01-02", 0): (1, 1, 1.0),
    }


def test_rfm_scores_partition_users_sensibly(spark):
    # 8 users with strictly increasing frequency/monetary and strictly
    # decreasing recency → every user's three scores must agree, and the
    # quartiles must split 8 users into 4 score buckets of 2.
    rows = []
    for u in range(8):
        for p in range(u + 1):  # frequency = u+1
            rows.append(
                (u, _ts(f"2024-01-{u + 1:02d}T00:00:00"), "purchase", 10.0)
            )
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])
    out = analytics.rfm_segments(df).collect()
    assert len(out) == 8
    by_user = {r.user_id: r for r in out}
    for u, r in by_user.items():
        assert r.r_score == r.f_score == r.m_score, r
    from collections import Counter

    counts = Counter(r.r_score for r in out)
    assert counts == {1: 2, 2: 2, 3: 2, 4: 2}
    assert by_user[7].segment == "loyal"
    assert by_user[0].segment == "hibernating"


def test_revenue_anomalies_flags_spike_not_constant(spark):
    # 9 constant days then one 10x spike: constant window → zero
    # variance → z NULL; the spike day must flag.
    rows = []
    for d in range(1, 10):
        rows.append((_ts(f"2024-01-{d:02d}T12:00:00"), "purchase", 100.0))
    rows.append((_ts("2024-01-10T12:00:00"), "purchase", 1000.0))
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = {r.event_date.date().isoformat(): r for r in analytics.revenue_anomalies(df).collect()}
    assert out["2024-01-05"].z_score is None  # constant window
    spike = out["2024-01-10"]
    assert spike.is_anomaly == 1 and spike.z_score > 2
    assert all(r.is_anomaly == 0 for d, r in out.items() if d != "2024-01-10")


# ---------------------------------------------------------------------------
# HLL rollup
# ---------------------------------------------------------------------------


def test_hll_rollup_matches_exact_within_bound(spark):
    # 3 days × overlapping user ranges; month estimate must be within
    # the lg_k=12 error bound (~1.6% rel. std error; assert 5%).
    rows = [
        (d, u)
        for d, lo, hi in [(1, 0, 4000), (2, 2000, 6000), (3, 4000, 8000)]
        for u in range(lo, hi)
    ]
    df = spark.createDataFrame(rows, ["day", "user_id"])
    daily = sketch.hll_sketches(df, ["day"], "user_id")
    assert daily.count() == 3
    total = sketch.hll_rollup(
        daily.select(F.lit(1).alias("all"), "hll"), ["all"]
    ).collect()[0]
    assert abs(total.approx_distinct - 8000) / 8000 < 0.05


def test_hll_rollup_is_merge_not_sum(spark):
    # duplicated users across days must NOT double count
    df = spark.createDataFrame(
        [(d, u) for d in (1, 2, 3) for u in range(1000)], ["day", "user_id"]
    )
    daily = sketch.hll_sketches(df, ["day"], "user_id")
    total = sketch.hll_rollup(
        daily.select(F.lit(1).alias("all"), "hll"), ["all"]
    ).collect()[0]
    assert abs(total.approx_distinct - 1000) / 1000 < 0.05


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    inserted = spark.range(0, 2000).selectExpr("id AS k")
    bits = sketch.bloom_bits(inserted, "k", n_bits=1 << 16, n_hashes=5)
    # every inserted key must pass
    assert (
        sketch.bloom_contains_keys(inserted, bits, "k", n_bits=1 << 16, n_hashes=5).count()
        == 2000
    )
    # disjoint probes: fp rate ≈ (1-e^{-kn/m})^k ≈ 2e-5 at n=2000,
    # m=65536, k=5; assert a slack bound
    absent = spark.range(1_000_000, 1_010_000).selectExpr("id AS k")
    fp = sketch.bloom_contains_keys(absent, bits, "k", n_bits=1 << 16, n_hashes=5).count()
    assert fp < 50


def test_bloom_semi_join_equals_plain_semi_join(spark):
    big = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS payload")
    small = spark.range(0, 5000, 7).selectExpr("id AS k")  # every 7th key
    got = sketch.bloom_semi_join(big, small, on="k", n_bits=1 << 14)
    want = big.join(small, on="k", how="left_semi")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# incremental aggregate maintenance
# ---------------------------------------------------------------------------


def test_combine_partials_associative_over_any_slicing(spark):
    from streaming_ecom_analytics_spark.operators import incremental

    rows = [(i % 5, float(i) + 0.17) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "v"])
    measures = {
        "s": F.sum(F.col("v").cast("decimal(18,2)")),
        "n": F.count("*"),
    }
    full = incremental.partial_aggregate(df, ["k"], measures)

    # slice three ways, fold pairwise in arbitrary order
    a = incremental.partial_aggregate(df.filter("v < 50"), ["k"], measures)
    b = incremental.partial_aggregate(df.filter("v >= 50 AND v < 120"), ["k"], measures)
    c = incremental.partial_aggregate(df.filter("v >= 120"), ["k"], measures)
    merged = incremental.combine_partials(
        incremental.combine_partials(c, a, ["k"], ["s", "n"]), b, ["k"], ["s", "n"]
    )
    f = {(r.k): (str(r.s), r.n) for r in full.collect()}
    m = {(r.k): (str(r.s), r.n) for r in merged.collect()}
    assert f == m


def test_combine_partials_passes_through_one_sided_keys(spark):
    from streaming_ecom_analytics_spark.operators import incremental

    snap = spark.createDataFrame([(1, 10, 2)], ["k", "s", "n"])
    delta = spark.createDataFrame([(2, 5, 1)], ["k", "s", "n"])
    out = {
        r.k: (r.s, r.n)
        for r in incremental.combine_partials(snap, delta, ["k"], ["s", "n"]).collect()
    }
    assert out == {1: (10, 2), 2: (5, 1)}


# ---------------------------------------------------------------------------
# weighted sampling (A-ES) and robust stats
# ---------------------------------------------------------------------------


def test_weighted_sample_is_deterministic_and_biased_by_weight(spark):
    from streaming_ecom_analytics_spark.functions import curate

    # two weight classes: ids 0..499 weight 1, ids 500..999 weight 20 —
    # the heavy class must dominate the sample but the draw stays
    # without-replacement and rerun-stable
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CASE WHEN id >= 500 THEN 20.0 ELSE 1.0 END AS w"
    )
    s1 = curate.weighted_sample(df, weight_col="w", id_col="doc_id", n_per_group=100)
    s2 = curate.weighted_sample(df, weight_col="w", id_col="doc_id", n_per_group=100)
    ids1 = {r.doc_id for r in s1.collect()}
    ids2 = {r.doc_id for r in s2.collect()}
    assert ids1 == ids2 and len(ids1) == 100
    heavy = sum(1 for i in ids1 if i >= 500)
    # E[heavy] ≈ 95 under A-ES with 20:1 weights; demand a clear majority
    assert heavy > 75


def test_weighted_sample_grouped_caps_per_group(spark):
    from streaming_ecom_analytics_spark.functions import curate

    df = spark.range(300).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS g", "1.0 AS w"
    )
    out = curate.weighted_sample(
        df, weight_col="w", id_col="doc_id", n_per_group=10, group_cols=("g",)
    )
    from collections import Counter

    counts = Counter(r.g for r in out.collect())
    assert counts == {"0": 10, "1": 10, "2": 10}


def test_mad_by_group_robust_to_outlier(spark):
    # group a: 1..9 plus a huge outlier — median 5.5? (10 values) and
    # MAD must stay small; stddev would explode
    rows = [("a", float(v)) for v in range(1, 10)] + [("a", 1e9)]
    rows += [("b", 7.0)] * 5
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r.g: r for r in analytics.mad_by_group(df, group_col="g", value_col="v").collect()}
    assert out["a"].median_value == 5.5 and out["a"].mad < 5
    assert out["b"].median_value == 7.0 and out["b"].mad == 0.0 and out["b"].n == 5


def test_item_cooccurrence_counts_and_cosine(spark):
    rows = [
        # users 1,2 both buy items 10 and 20; user 3 buys only 10
        (1, "purchase", '{"k": 10}'),
        (1, "purchase", '{"k": 20}'),
        (2, "purchase", '{"k": 10}'),
        (2, "purchase", '{"k": 20}'),
        (2, "purchase", '{"k": 20}'),  # duplicate purchase → still 1 user
        (3, "purchase", '{"k": 10}'),
        (3, "view", '{"k": 20}'),  # non-purchase ignored
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "props"])
    out = analytics.item_cooccurrence(df, min_support=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.item_a, r.item_b, r.n_a, r.n_b, r.n_both) == (10, 20, 3, 2, 2)
    assert abs(r.cosine - round(2 / (6**0.5), 6)) < 1e-9


def test_histogram_fixed_width_clamps_and_zero_fills(spark):
    # values: -5 clamps into bin 0, 105 clamps into the top bin; bin 1
    # (10..20) is empty and must still appear with n=0
    df = spark.createDataFrame(
        [(-5.0,), (2.0,), (25.0,), (105.0,), (None,)], ["v"]
    )
    out = {r.bin: r for r in analytics.histogram_fixed_width(
        df, "v", lo=0.0, hi=100.0, n_bins=10
    ).collect()}
    assert sorted(out) == list(range(10))
    assert out[0].n == 2 and out[0].bin_sum == -3.0  # -5 clamped + 2.0
    assert out[1].n == 0 and out[1].bin_sum == 0.0
    assert out[2].n == 1
    assert out[9].n == 1 and out[9].bin_sum == 105.0  # clamped high
    assert out[3].bin_lo == 30.0 and out[3].bin_hi == 40.0


def test_gapfill_daily_locf_carries_and_flags(spark):
    from streaming_ecom_analytics_spark.operators import aggregates
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 9), 10.0),
        (dt.datetime(2024, 1, 1, 15), 5.0),
        # Jan 2-3 missing
        (dt.datetime(2024, 1, 4, 1), 7.0),
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = {r.day.day: r for r in aggregates.gapfill_daily_locf(df).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    assert out[1].n == 2 and out[1].day_sum == 15.0 and not out[1].is_gap
    assert out[2].n == 0 and out[2].day_sum is None and out[2].is_gap
    assert out[2].filled_sum == 15.0 and out[3].filled_sum == 15.0  # carried
    assert out[4].filled_sum == 7.0 and not out[4].is_gap


def test_abc_classification_classes_and_shares(spark):
    df = spark.createDataFrame(
        [("x", 80.0), ("y", 15.0), ("z", 5.0)], ["category", "revenue"]
    )
    out = {r.category: r for r in analytics.abc_classification(df).collect()}
    assert out["x"].rank == 1 and out["x"].abc_class == "A" and out["x"].cum_share == 0.8
    assert out["y"].abc_class == "B" and out["y"].cum_share == 0.95
    assert out["z"].abc_class == "C" and out["z"].cum_share == 1.0


def test_mom_growth_lag_and_first_month_null(spark):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 5), 100.0),
        (dt.datetime(2024, 2, 10), 150.0),
        (dt.datetime(2024, 2, 20), 50.0),
        (dt.datetime(2024, 3, 1), 100.0),
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = {r.month.month: r for r in analytics.mom_growth(df).collect()}
    assert out[1].prev_revenue is None and out[1].growth is None
    assert out[2].revenue == 200.0 and out[2].growth == 1.0
    assert out[3].growth == -0.5


def test_user_growth_counts_each_user_once(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1)),
        (1, dt.datetime(2024, 1, 3)),  # returning, not new
        (2, dt.datetime(2024, 1, 1)),
        (3, dt.datetime(2024, 1, 3)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r.day.day: r for r in analytics.user_growth(df).collect()}
    assert out[1].new_users == 2 and out[1].cumulative_users == 2
    assert out[3].new_users == 1 and out[3].cumulative_users == 3


def test_time_weighted_avg_weights_by_duration(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: value 10 held for 3s, then 20 for 1s (last point is
        # the LOCF terminator and carries no weight of its own)
        (1, base, 10.0),
        (1, base + dt.timedelta(seconds=3), 20.0),
        (1, base + dt.timedelta(seconds=4), 99.0),
        # user 2: single observation -> no span -> dropped
        (2, base, 50.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = analytics.time_weighted_avg_daily(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_users == 1
    assert abs(r.avg_twa - (10 * 3 + 20 * 1) / 4) < 1e-6  # 12.5


def test_profile_table_nulls_distincts_minmax(spark):
    from streaming_ecom_analytics_spark.operators import validation

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, None, 4.0), (2, "b", None)], ["k", "s", "v"]
    )
    out = {r.column: r for r in validation.profile_table(
        df, numeric_cols=("k", "v")
    ).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_nulls == 0 and out["k"].n_distinct == 2
    assert out["k"].min_val == 1.0 and out["k"].max_val == 2.0
    assert out["s"].n_nulls == 1 and round(out["s"].null_frac, 6) == 0.333333
    assert out["s"].min_val is None  # non-numeric: no min/max
    assert out["v"].n_distinct == 2 and out["v"].max_val == 4.0


def test_pagerank_star_graph_and_mass_conservation(spark):
    # star: 1<->2, 1<->3, 1<->4 (undirected). Center must outrank leaves;
    # by symmetry leaves are equal; total rank mass stays 1 exactly.
    # Closed form (d=0.85, n=4, a=(1-d)/n):
    #   center = a(1+3d)/(1-d^2), leaf = a(3+d)/(3(1-d^2))
    # The star is bipartite, so power iteration converges ~d^k — use a
    # tolerance matched to n_iter, not machine epsilon.
    pairs = [(1, 2), (1, 3), (1, 4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], ["src", "dst"]
    )
    n_iter = 12
    out = {r.node: r.rank for r in analytics.pagerank(edges, n_iter=n_iter).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out[2] == out[3] == out[4]
    d, a = 0.85, 0.15 / 4
    center = a * (1 + 3 * d) / (1 - d * d)
    leaf = a * (3 + d) / (3 * (1 - d * d))
    tol = d ** n_iter  # ~0.14
    assert abs(out[1] - center) < tol and abs(out[2] - leaf) < tol


def test_pagerank_dangling_mass_redistributes(spark):
    # 1 -> 2 only: node 2 is dangling; redistribution keeps total mass 1
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    out = {r.node: r.rank for r in analytics.pagerank(edges, n_iter=8).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out[2] > out[1]


def test_daily_percentile_bands_exact(spark):
    import datetime as dt

    rows = [(dt.datetime(2024, 1, 1, h), float(v)) for h, v in
            [(1, 10), (2, 20), (3, 30), (4, 40)]]
    df = spark.createDataFrame(rows, ["ts", "value"])
    r = analytics.daily_percentile_bands(df).collect()[0]
    assert r.n == 4 and r.p50 == 25.0 and r.p90 == 37.0


# ---------------------------------------------------------------------------
# feature engineering: rolling features, scaling, negative sampling
# ---------------------------------------------------------------------------


def test_rolling_time_features_range_window_boundaries(spark):
    df = spark.createDataFrame(
        [
            (1, "u1", "2024-01-01 00:00:00", 10.0),
            (2, "u1", "2024-01-08 00:00:00", 20.0),  # exactly 7d later: included
            (3, "u1", "2024-01-16 00:00:00", 40.0),  # >7d past both: alone
            (4, "u2", "2024-01-08 00:00:00", 5.0),  # other user unaffected
        ],
        "event_id long, user_id string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = analytics.rolling_time_features(df, window_days=7)
    got = {r["event_id"]: (r["sum_7d"], r["n_7d"]) for r in out.collect()}
    assert got == {1: (10.0, 1), 2: (30.0, 2), 3: (40.0, 1), 4: (5.0, 1)}


def test_rolling_time_features_same_timestamp_peers(spark):
    df = spark.createDataFrame(
        [(1, "u1", "2024-01-01 12:00:00", 1.0), (2, "u1", "2024-01-01 12:00:00", 2.0)],
        "event_id long, user_id string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = analytics.rolling_time_features(df, window_days=7)
    # RANGE frame: equal order keys are peers — both rows see both
    assert {(r["sum_7d"], r["n_7d"]) for r in out.collect()} == {(3.0, 2)}


def test_scale_features_zscore_and_minmax(spark):
    df = spark.createDataFrame(
        [
            (1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "b", 7.0), (5, "b", 7.0),
            (6, "c", 0.01), (7, "c", 448.01), (8, "c", 28.99),
        ],
        "event_id long, event_type string, value double",
    )
    out = {r["event_id"]: r for r in analytics.scale_features(df).collect()}
    # group a: mean 2, sample std 1 -> z = -1, 0, 1; min_max 0, .5, 1
    assert (out[1]["z_score"], out[2]["z_score"], out[3]["z_score"]) == (-1.0, 0.0, 1.0)
    assert (out[1]["min_max"], out[2]["min_max"], out[3]["min_max"]) == (0.0, 0.5, 1.0)
    # group b: zero variance -> NULL z; constant column -> NULL min_max
    assert out[4]["z_score"] is None and out[4]["min_max"] is None
    # group c: (28.99 - 0.01) / 448 is the double just below 0.0646875;
    # it quantizes down, as DuckDB's ROUND does (Spark's ROUND gives .064688)
    assert out[8]["min_max"] == 0.064687


def test_negative_samples_excludes_positives_and_is_deterministic(spark):
    # u1 owns 2 of the 3 catalog items — the pathological high-coverage
    # user the fixed-budget contract documents. oversample=8 explicitly:
    # finding u1's single fresh item among 3 needs the larger draw
    # budget (the default 4x is sized for realistic catalog coverage).
    pos = spark.createDataFrame(
        [("u1", "i1"), ("u1", "i2"), ("u2", "i3")],
        "user_id string, item string",
    )
    out = analytics.negative_samples(pos, n_neg=2, oversample=8)
    rows = {(r["user_id"], r["item"]) for r in out.collect()}
    # never a positive pair
    assert rows.isdisjoint({("u1", "i1"), ("u1", "i2"), ("u2", "i3")})
    # u1 has one candidate left (i3); u2 has two (i1, i2)
    assert {(u, i) for u, i in rows if u == "u1"} == {("u1", "i3")}
    assert len({i for u, i in rows if u == "u2"}) == 2
    # rerun-stable: no RNG state
    again = {
        (r["user_id"], r["item"])
        for r in analytics.negative_samples(pos, n_neg=2, oversample=8).collect()
    }
    assert rows == again


def test_negative_candidates_constant_work_per_user(spark):
    """The scale contract (round-5 verdict #2): candidate generation is
    a fixed per-user draw budget, never |catalog| rows per user — every
    user resolves to at most n_draws candidates even when the catalog
    is much larger than the budget."""
    pos = spark.createDataFrame(
        [("u1", "i0"), ("u2", "i1")] + [("seed", f"i{k}") for k in range(200)],
        "user_id string, item string",
    )
    cand = analytics.negative_candidates(pos, n_draws=6, bucket_target=8)
    per_user = (
        cand.groupBy("user_id").count().collect()
    )
    assert per_user, "draws must resolve to at least one candidate"
    assert all(r["count"] <= 6 for r in per_user), per_user
    # each draw slot resolves to at most ONE item
    slots = cand.groupBy("user_id", "__t").count().collect()
    assert all(r["count"] == 1 for r in slots)


def test_negative_samples_null_items_excluded(spark):
    """NULL items can't hash consistently — they are excluded from both
    the catalog and the positive keys, on every engine identically."""
    pos = spark.createDataFrame(
        [("u1", "i1"), ("u1", None), ("u2", "i2")],
        "user_id string, item string",
    )
    out = analytics.negative_samples(pos, n_neg=2)
    assert all(r["item"] is not None for r in out.collect())


def test_negative_samples_caps_per_user(spark):
    pos = spark.createDataFrame(
        [("u1", f"i{k}") for k in range(10)] + [("u2", "i0")],
        "user_id string, item string",
    )
    out = analytics.negative_samples(pos, n_neg=3)
    per_user = {}
    for r in out.collect():
        per_user.setdefault(r["user_id"], []).append(r["neg_rank"])
    assert per_user.get("u1") is None  # u1 bought everything
    assert sorted(per_user["u2"]) == [1, 2, 3]


# ---- Misra-Gries heavy hitters ----


def test_misra_gries_adversarial_bounds(spark):
    """Skewed + uniform mix at capacity far below cardinality: every
    estimate must stay within [exact - n/(k+1), exact], and every item
    with freq > n/(k+1) must survive."""
    from streaming_ecom_analytics_spark.functions import sketch as sk

    rows = (
        [("hot1",)] * 500 + [("hot2",)] * 300
        + [(f"cold{i}",) for i in range(200) for _ in range(3)]
    )
    df = spark.createDataFrame(rows, "k string").repartition(8)
    n = len(rows)
    cap = 4
    est = {r.item: r.est for r in sk.misra_gries_summary(df, "k", capacity=cap).collect()}
    assert len(est) <= cap
    exact = {"hot1": 500, "hot2": 300, **{f"cold{i}": 3 for i in range(200)}}
    budget = n / (cap + 1)
    for item, e in est.items():
        assert e <= exact[item], (item, e)
        assert exact[item] - e <= budget, (item, e)
    for item, c in exact.items():
        if c > budget:
            assert item in est, f"guaranteed heavy hitter {item} missing"
    checks = sk.misra_gries_check(df, "k", capacity=cap, top=3).collect()
    assert all(r.present_ok and r.bound_ok for r in checks)
    assert [r.item for r in checks][:2] == ["hot1", "hot2"]


def test_misra_gries_sketch_is_small_and_plan_bounded(spark):
    from streaming_ecom_analytics_spark.functions import sketch as sk

    df = spark.range(0, 5000).select(
        (F.col("id") % 97).cast("string").alias("k")
    )
    out = sk.misra_gries_summary(df, "k", capacity=10)
    assert out.count() <= 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the data-volume stage is the mapInPandas; everything after runs
    # on sketch-sized rows
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_label_propagation_converges_to_components(spark):
    """Two disjoint chains: enough rounds → every node carries its
    component's min id; fewer rounds → only the T-hop horizon."""
    from streaming_ecom_analytics_spark.operators import analytics

    chain = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    full = {
        r.node: r.label
        for r in analytics.label_propagation_min(edges, n_iter=4).collect()
    }
    assert full == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    # 1 round: node 4 only sees node 3's initial label
    one = {
        r.node: r.label
        for r in analytics.label_propagation_min(edges, n_iter=1).collect()
    }
    assert one[4] == 3 and one[2] == 1


def test_expectations_report_counts_violations(spark):
    from streaming_ecom_analytics_spark.operators import validation

    rows = [(1, "a", 5.0), (2, "a", -1.0), (2, "zz", 3.0), (None, "a", 0.0)]
    df = spark.createDataFrame(rows, "id long, kind string, v double")
    out = {
        r.expectation: (r.n_violations, r.passed)
        for r in validation.expectations_report(
            df,
            {
                "id_not_null": F.col("id").isNotNull(),
                "kind_in_domain": F.col("kind").isin("a", "b"),
                "v_non_negative": F.col("v") >= 0,
            },
            unique_cols=["id"],
        ).collect()
    }
    assert out["id_not_null"] == (1, False)
    assert out["kind_in_domain"] == (1, False)
    assert out["v_non_negative"] == (1, False)
    assert out["id_unique"] == (1, False)  # id=2 twice (nulls don't count)
    clean = validation.expectations_report(
        df.filter("id = 1"), {"v_non_negative": F.col("v") >= 0}, unique_cols=["id"]
    ).collect()
    assert all(r.passed for r in clean)


def test_expectations_report_rejects_empty(spark):
    """No expectations at all must raise a clear ValueError, not an
    obscure stack(0, ...) SQL parse error."""
    import pytest

    from streaming_ecom_analytics_spark.operators import validation

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="no expectations"):
        validation.expectations_report(df, {})


# ---------------------------------------------------------------------------
# skyline_2d
# ---------------------------------------------------------------------------


def test_skyline_basic_dominance(spark):
    # (1,5) and (3,2) are the frontier; (3,4) dominated by (3,2);
    # (4,2) dominated by (3,2); (5,6) dominated by everything.
    df = spark.createDataFrame(
        [(1, 1, 5), (2, 3, 4), (3, 3, 2), (4, 4, 2), (5, 5, 6)],
        "id long, x long, y long",
    )
    got = sorted(
        r.id
        for r in analytics.skyline_2d(df, "x", "y", out_cols=["id"]).collect()
    )
    assert got == [1, 3]


def test_skyline_keeps_exact_duplicates(spark):
    # Two identical points: neither strictly dominates the other.
    df = spark.createDataFrame(
        [(1, 2, 2), (2, 2, 2), (3, 1, 9)], "id long, x long, y long"
    )
    got = sorted(
        r.id
        for r in analytics.skyline_2d(df, "x", "y", out_cols=["id"]).collect()
    )
    assert got == [1, 2, 3]


def test_skyline_equal_x_strict_y_dominates(spark):
    df = spark.createDataFrame(
        [(1, 2, 3), (2, 2, 2)], "id long, x long, y long"
    )
    got = sorted(
        r.id
        for r in analytics.skyline_2d(df, "x", "y", out_cols=["id"]).collect()
    )
    assert got == [2]


# ---------------------------------------------------------------------------
# association_rules
# ---------------------------------------------------------------------------


def test_association_rules_confidence_and_lift(spark):
    # Users: u1 buys {1,2}, u2 buys {1,2}, u3 buys {1}, u4 buys {2,3}.
    # Rule 1→2: n_ante=3, n_cons=3, n_both=2, conf=2/3, lift=2*4/(3*3).
    rows = [
        ("u1", 1), ("u1", 2),
        ("u2", 1), ("u2", 2),
        ("u3", 1),
        ("u4", 2), ("u4", 3),
    ]
    ev = spark.createDataFrame(
        [(u, "purchase", f'{{"k": {i}}}') for u, i in rows],
        "user_id string, event_type string, props string",
    )
    out = {
        (r.antecedent, r.consequent): r
        for r in analytics.association_rules(ev, min_support=1).collect()
    }
    r12 = out[(1, 2)]
    assert (r12.n_ante, r12.n_cons, r12.n_both) == (3, 3, 2)
    assert r12.confidence == round(2 / 3, 6)
    assert r12.lift == round(2 * 4 / (3 * 3), 6)
    # both directions emitted; support counts swap, lift is symmetric
    r21 = out[(2, 1)]
    assert (r21.n_ante, r21.n_cons, r21.n_both) == (3, 3, 2)
    assert r21.lift == r12.lift
    # min_support prunes: 2→3 occurs once
    out5 = analytics.association_rules(ev, min_support=2).collect()
    assert all(r.n_both >= 2 for r in out5)
    assert (2, 3) not in {(r.antecedent, r.consequent) for r in out5}


def test_association_rules_distinct_per_user(spark):
    # Repeat purchases of the same item by one user count once.
    ev = spark.createDataFrame(
        [("u1", "purchase", '{"k": 1}')] * 3
        + [("u1", "purchase", '{"k": 2}'), ("u2", "purchase", '{"k": 1}')],
        "user_id string, event_type string, props string",
    )
    out = {
        (r.antecedent, r.consequent): r
        for r in analytics.association_rules(ev, min_support=1).collect()
    }
    assert out[(1, 2)].n_both == 1
    assert out[(1, 2)].n_ante == 2


# ---------------------------------------------------------------------------
# linear_attribution
# ---------------------------------------------------------------------------


def test_linear_attribution_penny_conservation(spark):
    # One $1.00 purchase, 3 clicks in window: 34 + 33 + 33 cents —
    # earliest click gets the extra penny; total re-sums exactly.
    rows = [
        (1, "u1", "click", None, "2024-01-01T10:00:00"),
        (2, "u1", "click", None, "2024-01-02T10:00:00"),
        (3, "u1", "click", None, "2024-01-03T10:00:00"),
        (4, "u1", "purchase", 1.00, "2024-01-04T10:00:00"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, v, _ts(s)) for i, u, t, v, s in rows],
        "event_id long, user_id string, event_type string, value double, ts timestamp",
    )
    out = {r.click_day.day: r for r in analytics.linear_attribution(ev).collect()}
    assert out[1].attributed_revenue == 0.34
    assert out[2].attributed_revenue == 0.33
    assert out[3].attributed_revenue == 0.33
    assert sum(r.attributed_revenue for r in out.values()) == 1.00


def test_linear_attribution_window_boundaries(spark):
    # Click exactly 7 days before: included (>= start). Click at the
    # purchase instant or after: excluded (half-open end).
    rows = [
        (1, "u1", "click", None, "2024-01-01T10:00:00"),  # == start
        (2, "u1", "click", None, "2024-01-08T10:00:00"),  # == purchase ts
        (3, "u1", "purchase", 2.00, "2024-01-08T10:00:00"),
        (4, "u2", "click", None, "2024-01-01T09:59:59"),  # before window
        (5, "u2", "purchase", 5.00, "2024-01-08T10:00:00"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, v, _ts(s)) for i, u, t, v, s in rows],
        "event_id long, user_id string, event_type string, value double, ts timestamp",
    )
    out = analytics.linear_attribution(ev).collect()
    assert len(out) == 1
    assert out[0].n_touches == 1
    assert out[0].attributed_revenue == 2.00  # u2's purchase unattributed


# ---------------------------------------------------------------------------
# quantile_normalize
# ---------------------------------------------------------------------------


def test_quantile_normalize_ranks_and_ties(spark):
    ev = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 20.0), (4, "a", 40.0),
         (5, "b", 7.0), (6, "b", None)],
        "event_id long, event_type string, value double",
    )
    out = {r.event_id: r.qnorm for r in analytics.quantile_normalize(ev, "value").collect()}
    assert out[1] == 0.0
    assert out[2] == out[3] == round(1 / 3, 6)  # ties share (rank-1)/(n-1)
    assert out[4] == 1.0
    assert out[5] == 0.0  # singleton group
    assert 6 not in out  # NULL excluded


# ---------------------------------------------------------------------------
# key_skew_report
# ---------------------------------------------------------------------------


def test_key_skew_report_values(spark):
    ev = spark.createDataFrame(
        [("hot",), ("hot",), ("hot",), ("hot",), ("a",), ("b",), (None,)],
        "k string",
    )
    r = analytics.key_skew_report(ev, ["k"]).collect()[0]
    assert (r.n_rows, r.n_keys, r.max_key_rows) == (7, 4, 4)
    assert r.top_share == round(4 / 7, 6)
    assert r.skew_ratio == 4.0  # median per-key count = 1


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------


def _both_dirs(spark, pairs):
    e = spark.createDataFrame(pairs, "src long, dst long")
    return e.union(e.selectExpr("dst AS src", "src AS dst"))


def test_kcore_clique_survives_chain_peels(spark):
    # K4 on {1,2,3,4} is a 3-core; the chain 4-5-6 peels away — node 5
    # only loses its degree-3 status AFTER 6 is removed (iterative).
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    out = {
        r.item: r.degree
        for r in analytics.kcore(_both_dirs(spark, pairs), k=3, n_rounds=8).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_empty_when_no_core(spark):
    pairs = [(1, 2), (2, 3), (3, 4)]  # path: max core is 1
    out = analytics.kcore(_both_dirs(spark, pairs), k=2, n_rounds=4).collect()
    assert out == []


# ---------------------------------------------------------------------------
# k_anonymity_audit / fk_integrity_audit
# ---------------------------------------------------------------------------


def test_k_anonymity_flags_small_classes(spark):
    from streaming_ecom_analytics_spark.operators import validation

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [(None,)], "q string"
    )
    r = validation.k_anonymity_audit(df, ["q"], k=3).collect()[0]
    assert (r.n_rows, r.n_classes) == (8, 3)
    assert r.n_unsafe_classes == 2  # 'b' (2) and NULL (1)
    assert r.n_exposed_rows == 3
    assert r.min_class_size == 1
    assert not r.k_anonymous
    ok = validation.k_anonymity_audit(df, ["q"], k=1).collect()[0]
    assert ok.k_anonymous


def test_fk_integrity_orphans_and_nulls(spark):
    from streaming_ecom_analytics_spark.operators import validation

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    r = validation.fk_integrity_audit(
        [("c->p", child, "fk", parent, "pk")]
    ).collect()[0]
    assert (r.n_child_rows, r.n_null_fk, r.n_orphans) == (4, 1, 1)
    assert not r.ok


def test_empty_audit_inputs_raise_clearly(spark):
    """An empty link/key list is a caller bug — both audits must say
    so instead of dying with IndexError on reports[0]."""
    import pytest as _pytest

    from streaming_ecom_analytics_spark.operators import validation

    with _pytest.raises(ValueError, match="at least one"):
        validation.fk_integrity_audit([])
    with _pytest.raises(ValueError, match="at least one"):
        analytics.key_skew_report(spark.range(1), [])


# ---------------------------------------------------------------------------
# out-of-order audit (registered query machinery, crafted frame)
# ---------------------------------------------------------------------------


def test_out_of_order_window_semantics(spark):
    """Arrival order = event_id; one row arrives with an older event
    time than its predecessor — exactly that row counts, and lateness
    is measured against the running high-water mark."""
    from pyspark.sql.window import Window

    rows = [
        (1, "u", _ts("2024-01-01T10:00:00")),
        (2, "u", _ts("2024-01-01T10:05:00")),
        (3, "u", _ts("2024-01-01T10:02:00")),  # 3 min late vs 10:05
        (4, "u", _ts("2024-01-01T10:06:00")),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = ev.select("user_id", "ts", F.max("ts").over(w).alias("hw"))
    late = F.col("ts") < F.col("hw")
    r = arr.groupBy("user_id").agg(
        F.count(F.when(late, 1)).alias("n_ooo"),
        F.max(F.when(late, F.unix_micros("hw") - F.unix_micros("ts"))).alias("lat"),
    ).collect()[0]
    assert r.n_ooo == 1
    assert r.lat == 3 * 60 * 1_000_000


# ---------------------------------------------------------------------------
# cooccurrence_hitrate
# ---------------------------------------------------------------------------


def test_cooccurrence_hitrate_temporal_split(spark):
    # Train: u1,u2 both buy {1,2} → rec(1)={2}, rec(2)={1}.
    # Test: u1 buys 2 (HIT via rec of 1... u1 already owns both; the
    # rec set for u1 is {1,2}); u2 buys 9 (miss); u3 test-only →
    # excluded from eval.
    rows = [
        ("u1", 1, "2024-01-01T00:00:00"), ("u1", 2, "2024-01-02T00:00:00"),
        ("u2", 1, "2024-01-03T00:00:00"), ("u2", 2, "2024-01-04T00:00:00"),
        ("u1", 2, "2024-02-01T00:00:00"),
        ("u2", 9, "2024-02-02T00:00:00"),
        ("u3", 5, "2024-02-03T00:00:00"),
    ]
    ev = spark.createDataFrame(
        [(u, "purchase", f'{{"k": {i}}}', _ts(t)) for u, i, t in rows],
        "user_id string, event_type string, props string, ts timestamp",
    )
    r = analytics.cooccurrence_hitrate(
        ev, cutoff="2024-01-15", top_k=3, min_support=2
    ).collect()[0]
    assert (r.n_users_eval, r.n_hits) == (2, 1)
    assert r.hit_rate == 0.5


# ---------------------------------------------------------------------------
# revenue_cusum_drift — clamped prefix identity == classic recursion
# ---------------------------------------------------------------------------


def test_cusum_prefix_identity_equals_classic_recursion(spark, tmp_path):
    """Round-6 advisor finding: the prefix identity omitted the
    recursion's implicit P_0 = 0 anchor, so a series starting ABOVE
    the mean (prefix never dips negative) understated early drift —
    the advisor's example x=[10,10,1,1,1] gives classic up-CUSUM
    [27,54,36,18,0] but the unclamped form gave [0,27,9,0,0]. The
    clamped identity S_t = P_t − min(0, min_{j≤t} P_j) must equal
    max(0, S_{t-1} + D_t) exactly, on a crafted events table exposing
    the bug."""
    import datetime as dt

    from streaming_ecom_analytics_spark.plans.warehouse_queries import (
        q_revenue_cusum_drift,
    )

    daily = [10, 10, 1, 1, 1]  # starts above the mean (23/5 = 4.6)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    # timestamp[us] parquet, same physical type as the driver testdata
    # (a Spark write would emit INT96, which pyarrow reports as nanos
    # and would trip the catalog's nano-normalization shim)
    pdf = pd.DataFrame(
        {
            "event_id": range(len(daily)),
            "ts": pd.to_datetime(
                [dt.datetime(2024, 1, 1 + i, 12) for i in range(len(daily))]
            ).astype("datetime64[us]"),
            "user_id": range(len(daily)),
            "event_type": "purchase",
            "value": [float(v) for v in daily],
            "props": "{}",
        }
    )
    sf_dir = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), sf_dir + "/events.parquet")
    out = q_revenue_cusum_drift(spark, sf_dir).collect()

    # classic recursion on the scaled integer deviations D_t = n·x_t − Σx
    n, tot = len(daily), sum(daily) * 100
    s_up, s_dn, want_up, want_dn = 0, 0, [], []
    for v in daily:
        d = n * v * 100 - tot
        s_up = max(0, s_up + d)
        s_dn = max(0, s_dn - d)
        want_up.append(s_up)
        want_dn.append(s_dn)
    assert [r.cusum_up_scaled for r in out] == want_up
    assert [r.cusum_down_scaled for r in out] == want_dn
    # the advisor's exact numbers: sustained early drift now visible
    assert want_up == [2700, 5400, 3600, 1800, 0]


def test_viewers_never_buying_fires_on_crafted_corpus(spark, tmp_path):
    """The shipped testdata gives this EXCEPT query an EMPTY result at
    every SF (every viewer also purchases), so its oracle parity is
    vacuous — same class as the round-6 advisor's
    dominant_part_suppliers finding. Pin the semantics on a corpus
    where the gate fires: distinct viewers minus purchasers, duplicate
    views collapsed."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_ecom_analytics_spark.plans.registry import REGISTRY

    rows = [  # (user_id, event_type)
        (1, "view"), (1, "purchase"),   # viewer who bought → excluded
        (2, "view"), (2, "view"),       # viewer never buying, deduped
        (3, "purchase"),                # buyer never viewing → excluded
        (4, "view"),                    # viewer never buying
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Series(
                [dt.datetime(2024, 1, 1, 12, i) for i in range(len(rows))],
                dtype="datetime64[us]",
            ),
            "user_id": [u for u, _ in rows],
            "event_type": [t for _, t in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    sf_dir = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), sf_dir + "/events.parquet")
    out = REGISTRY["viewers_never_buying"].fn(spark, sf_dir).collect()
    assert sorted(r.user_id for r in out) == [2, 4]
