"""Round-9 session-2 operators: DDSketch quantiles, SemDeDup semantic
pruning, int8 embedding quantization, DP-noised release.

The registered queries' value-level parity runs in test_oracle_parity;
these tests pin the operator-level contracts the oracles can't express:
the DDSketch α-relative-error guarantee, the
SemDeDup keep rule on a crafted corpus, the quantization error bound on
adversarial columns, and the DP release's determinism/shape.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.functions import sketch as sk
from streaming_ecom_analytics_spark.functions import similarity


ALPHA = 0.01


def _values_df(spark, vals, group=None):
    rows = [(group if group is not None else "g", float(v)) for v in vals]
    return spark.createDataFrame(rows, "grp string, value double")


class TestDDSketch:
    def test_relative_error_guarantee_vs_numpy(self, spark):
        rng = np.random.default_rng(11)
        vals = np.concatenate(
            [
                rng.lognormal(3.0, 1.5, 2000),
                rng.uniform(0.01, 5.0, 1000),
            ]
        )
        df = _values_df(spark, vals.tolist())
        dd = sk.ddsketch_build(df, "value", alpha=ALPHA, group_cols=("grp",))
        out = sk.ddsketch_quantiles(
            dd, alpha=ALPHA, q_pcts=(50, 90, 99), group_cols=("grp",)
        ).collect()
        assert len(out) == 3
        srt = np.sort(vals)
        n = len(srt)
        for r in out:
            rank = (r.q_pct * (n - 1)) // 100  # 0-indexed target element
            exact = srt[rank]
            est = r.est_micros / 1e6
            # DDSketch hard guarantee: the bucket midpoint is within α
            # of every member, hence of the rank element (plus the
            # 1-micro flooring slack)
            assert abs(est - exact) <= ALPHA * exact + 2e-6, (
                r.q_pct,
                est,
                exact,
            )
            assert r.n_pos == n

    def test_collapse_caps_buckets_and_keeps_upper_guarantee(self, spark):
        """Round-9 verdict #6: the paper's collapsing variant. Pins:
        (a) the cap binds — an adversarial 1e-6..1e6 span collapses to
        exactly max_buckets buckets; (b) total count is preserved;
        (c) quantiles whose answer bucket lies ABOVE the collapse
        point keep the full α-guarantee; (d) a quantile inside the
        collapsed region degrades to an UPPER bound (never an
        underestimate); (e) a group under the cap is bit-identical to
        the uncapped sketch."""
        rng = np.random.default_rng(13)
        vals = np.exp(rng.uniform(np.log(1e-6), np.log(1e6), 4000))
        df = _values_df(spark, vals.tolist())
        cap = 200
        capped = sk.ddsketch_build(
            df, "value", alpha=ALPHA, group_cols=("grp",), max_buckets=cap
        )
        rows = capped.collect()
        assert len(rows) == cap  # (a): ~1,390 raw buckets collapsed
        assert sum(r.c for r in rows) == len(vals)  # (b)
        srt = np.sort(vals)
        n = len(srt)
        out = {
            r.q_pct: r.est_micros / 1e6
            for r in sk.ddsketch_quantiles(
                capped, alpha=ALPHA, q_pcts=(5, 90, 99), group_cols=("grp",)
            ).collect()
        }
        for p in (90, 99):  # (c): answer bucket far above the collapse
            exact = srt[(p * (n - 1)) // 100]
            assert abs(out[p] - exact) <= ALPHA * exact + 2e-6, (p, out[p], exact)
        # (d): p5 falls inside the collapsed low region — the estimate
        # is the collapse bucket's midpoint, an upper bound on the
        # true rank element (all collapsed mass moved UP to it)
        exact5 = srt[(5 * (n - 1)) // 100]
        assert out[5] >= exact5 * (1 - ALPHA)
        # (e): identity when the cap doesn't bind
        uncapped = sk.ddsketch_build(
            df, "value", alpha=ALPHA, group_cols=("grp",)
        )
        roomy = sk.ddsketch_build(
            df, "value", alpha=ALPHA, group_cols=("grp",), max_buckets=100_000
        )
        assert {(r.grp, r.bucket): r.c for r in uncapped.collect()} == {
            (r.grp, r.bucket): r.c for r in roomy.collect()
        }

    def test_nonpositive_values_excluded(self, spark):
        df = _values_df(spark, [0.0, -3.0, 1.0, 2.0])
        dd = sk.ddsketch_build(df, "value", alpha=ALPHA, group_cols=("grp",))
        assert dd.agg(F.sum("c")).collect()[0][0] == 2

    def test_bucket_count_bounded_by_value_range(self, spark):
        # 10k values spanning [1, 100]: bucket count must track the
        # RANGE (log_gamma(100) ~ 230), not the corpus size
        rng = np.random.default_rng(3)
        vals = rng.uniform(1.0, 100.0, 10_000).tolist()
        dd = sk.ddsketch_build(
            _values_df(spark, vals), "value", alpha=ALPHA, group_cols=("grp",)
        )
        n_buckets = dd.count()
        limit = math.ceil(math.log(100.0) / math.log(sk.ddsketch_gamma(ALPHA))) + 2
        assert n_buckets <= limit


class TestSemanticDedup:
    def _emb_df(self, spark, vecs):
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_keep_rule_keeps_lowest_centroid_cosine(self, spark):
        # centroids = 2 lowest-id vectors (k=2). Build one duplicate
        # group near centroid 0 with members at increasing angle,
        # plus an isolated singleton near centroid 1. (On this
        # geometry the lowest-cosine member is also the furthest-L2
        # one; the divergence case is pinned separately below.)
        base = np.zeros(8)
        base[0] = 1.0
        far = np.zeros(8)
        far[1] = 1.0
        group = [
            base,  # id 0 -> centroid 0
            far,  # id 1 -> centroid 1
            base + 0.01,  # id 2: dup of 0, closer to centroid
            base + np.full(8, 0.02),  # id 3: dup, furthest from centroid 0
        ]
        out = similarity.semantic_dedup(
            self._emb_df(spark, group),
            k=2,
            threshold=0.9,
            method="block",
        )
        rows = {r.vec_id: r for r in out.collect()}
        assert len(rows) == 4
        dup_group = {i for i in rows if rows[i].group_id == 0}
        assert dup_group == {0, 2, 3}
        kept = [i for i in dup_group if rows[i].keep == 1]
        # id 3 has the lowest cosine to centroid 0 in the group
        assert kept == [3]
        assert rows[1].keep == 1  # singleton keeps itself
        coss = [rows[i].cos_micros for i in sorted(dup_group)]
        assert min(coss) == rows[3].cos_micros

    def test_keep_rule_is_cosine_not_l2_on_unnormalized(self, spark):
        """Round-10 verdict #5: the paper's rule is lowest COSINE to
        centroid; on unnormalized embeddings that differs from
        furthest-L2. id 2 = 3x the centroid (L2-far, cosine 1.0);
        id 3 = slightly rotated (L2-near, cosine < 1). The L2 rule
        would keep id 2; the paper rule must keep id 3."""
        e0 = np.zeros(8)
        e0[0] = 1.0
        e1 = np.zeros(8)
        e1[1] = 1.0
        vecs = [
            e0,          # id 0 -> centroid 0
            e1,          # id 1 -> centroid 1 (isolated)
            3.0 * e0,    # id 2: cosine-to-centroid = 1.0, L2 dist 2.0
            e0 + 0.05 * e1,  # id 3: cosine ~0.99875, L2 dist 0.05
        ]
        out = similarity.semantic_dedup(
            self._emb_df(spark, vecs), k=2, threshold=0.99, method="block"
        )
        rows = {r.vec_id: r for r in out.collect()}
        dup_group = {i for i in rows if rows[i].group_id == 0}
        assert dup_group == {0, 2, 3}
        assert [i for i in dup_group if rows[i].keep == 1] == [3]

    def test_ivf_cluster_pushdown_matches_exact_block(self, spark):
        """Round-9 verdict #4: pushing the cluster id into the IVF
        candidate key ((cluster, list) buckets) must be output-
        identical to the exact filter-after-join shape. At this size
        m >= n_lists, so every vector lands in every list and IVF
        candidate coverage is pigeonhole-complete — the comparison is
        deterministic, not recall-contingent."""
        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(300, 8))
        vecs[40] = vecs[41] = vecs[42]
        vecs[100] = vecs[101]
        df = self._emb_df(spark, vecs)
        block = {
            tuple(r)
            for r in similarity.semantic_dedup(
                df, k=4, threshold=0.9, method="block"
            ).collect()
        }
        ivf = {
            tuple(r)
            for r in similarity.semantic_dedup(
                df, k=4, threshold=0.9, method="ivf", n_rows=300
            ).collect()
        }
        assert block == ivf

    def test_exactly_one_keeper_per_group(self, spark):
        rng = np.random.default_rng(5)
        vecs = rng.normal(size=(60, 8))
        # plant duplicate runs
        vecs[10] = vecs[11] = vecs[12]
        vecs[20] = vecs[21]
        out = similarity.semantic_dedup(
            self._emb_df(spark, vecs), k=4, threshold=0.95, method="block"
        )
        per_group = (
            out.groupBy("group_id").agg(F.sum("keep").alias("k")).collect()
        )
        assert all(r.k == 1 for r in per_group)


class TestInt8Quant:
    def _df(self, spark, mat):
        rows = [([float(x) for x in r],) for r in mat]
        return spark.createDataFrame(rows, "embedding array<float>")

    def test_empty_corpus_yields_zero_rows(self, spark):
        """Round-9 advisor: the un-exploded shape emitted dim all-null
        rows on an empty corpus (Spark global aggregates on empty
        input produce one null row) while the SQL twin's UNNEST
        pipeline yields none. The posexplode rewrite must agree with
        the twin: zero rows."""
        empty = spark.createDataFrame([], "embedding array<float>")
        assert similarity.embedding_int8_quant_report(empty, dim=4).count() == 0

    def test_bound_holds_and_constant_dim_is_zero_error(self, spark):
        rng = np.random.default_rng(9)
        mat = rng.normal(size=(200, 4)).astype(np.float32)
        mat[:, 2] = 1.25  # constant dimension: scale 0 -> zero error
        out = similarity.embedding_int8_quant_report(
            self._df(spark, mat), dim=4
        ).collect()
        assert len(out) == 4
        by_dim = {r.dim_idx: r for r in out}
        assert all(r.bound_ok for r in out)
        assert by_dim[3].sum_abs_err_micros == 0
        assert by_dim[3].max_abs_err_micros == 0
        # non-constant dims: max error <= scale/2 against numpy
        for d in (1, 2, 4):
            col = mat[:, d - 1].astype(np.float64)
            mn, mx = col.min(), col.max()
            if mx == mn:
                continue
            sc = (mx - mn) / 255.0
            code = np.clip(np.floor((col - mn) / sc + 0.5), 0, 255)
            err = np.abs(col - (mn + code * sc))
            assert by_dim[d].max_abs_err_micros <= math.floor(sc / 2 * 1e6)
            assert by_dim[d].sum_abs_err_micros == int(
                np.sum(np.floor(err * 1e6))
            )

    def test_two_point_column_quantizes_exactly(self, spark):
        # values at exactly min and max land on codes 0/255: zero error
        mat = np.array([[0.0], [1.0], [0.0], [1.0]])
        out = similarity.embedding_int8_quant_report(
            self._df(spark, mat), dim=1
        ).collect()
        assert out[0].sum_abs_err_micros == 0
        assert out[0].bound_ok


class TestDPNoise:
    def test_release_is_deterministic_and_integer_consistent(self, spark):
        from streaming_ecom_analytics_spark.plans import REGISTRY

        sf = "/root/testdata/sf0.001"
        fn = REGISTRY["dp_noised_daily_counts"].fn
        a = {r.event_date: r for r in fn(spark, sf).collect()}
        b = {r.event_date: r for r in fn(spark, sf).collect()}
        assert a.keys() == b.keys() and len(a) > 0
        for d in a:
            assert a[d].noise_micros == b[d].noise_micros
            assert (
                a[d].noised_micros
                == a[d].n_events * 1_000_000 + a[d].noise_micros
            )

    def test_noise_scale_matches_laplace_b1(self, spark):
        # Laplace(b=1): |noise| has mean b; across ~30 seeded days the
        # sample mean should sit well inside [0.2, 3] * b
        from streaming_ecom_analytics_spark.plans import REGISTRY

        sf = "/root/testdata/sf0.001"
        rows = REGISTRY["dp_noised_daily_counts"].fn(spark, sf).collect()
        mean_abs = np.mean([abs(r.noise_micros) / 1e6 for r in rows])
        assert 0.2 <= mean_abs <= 3.0


class TestCoreset:
    def test_outlier_always_kept_and_weights_consistent(self, spark):
        rng = np.random.default_rng(13)
        vecs = rng.normal(size=(300, 8)) * 0.1
        vecs[250] = np.full(8, 50.0)  # dominates the cost -> p = 1
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = similarity.kmeans_coreset_sample(df, k=4, m=32)
        got = {r.vec_id: r for r in out.collect()}
        assert 250 in got
        assert got[250].p_micros == 1_000_000
        assert got[250].weight_micros == 1_000_000
        for r in got.values():
            # weight = floor(1e6 / p); reconstruct from p_micros within
            # the two floors' slack
            assert r.p_micros <= 1_000_000
            approx_w = 1e12 / r.p_micros
            assert abs(r.weight_micros - approx_w) <= approx_w * 0.01 + 2

    def test_sample_size_tracks_target(self, spark):
        rng = np.random.default_rng(17)
        vecs = rng.normal(size=(500, 8))
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        n = similarity.kmeans_coreset_sample(df, k=8, m=64).count()
        # E[n] = sum(min(1, m*s_i)) ~ m; seeded coins make this exact
        # per corpus — assert the sane band, not the RNG
        assert 32 <= n <= 128


class TestInt8Retrieval:
    def test_contract_green_and_quantization_is_real(self, spark):
        from streaming_ecom_analytics_spark import catalog
        from streaming_ecom_analytics_spark.plans import REGISTRY

        sf = "/root/testdata/sf0.001"
        row = REGISTRY["ann_int8_topk"].fn(spark, sf).collect()
        assert len(row) == 1 and row[0].mean_recall_ok and row[0].n_queries == 10
        # the dequantized view must actually differ from the raw
        # vectors (float32 values rarely sit exactly on the int8 grid)
        emb = catalog.embeddings(spark, sf).limit(5)
        deq = similarity.embedding_int8_dequantized(emb, dim=64)
        raw = {r.vec_id: r.embedding for r in emb.collect()}
        got = {r.vec_id: r.embedding for r in deq.collect()}
        diffs = [
            abs(float(a) - b)
            for vid in raw
            for a, b in zip(raw[vid], got[vid])
        ]
        assert max(diffs) > 0.0
        # and each coordinate moved at most half a quantization step
        # (step <= (max-min)/255 over the 5-row sample's parent corpus
        # is not recoverable here; the report test pins the exact bound)


class TestCoresetDegenerate:
    def test_degenerate_corpus_falls_back_to_uniform(self, spark):
        # every point identical -> sum(d2)=0: sensitivity must fall
        # back to uniform, not NaN-empty the sample
        rows = [(i, [1.0] * 8) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = similarity.kmeans_coreset_sample(df, k=4, m=100).collect()
        # m >= n -> p = min(1, 100/50) = 1: everything kept, weight 1
        assert len(out) == 50
        assert all(r.p_micros == 1_000_000 and r.weight_micros == 1_000_000 for r in out)
