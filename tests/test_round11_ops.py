"""Round-11 additions: bench-artifact hygiene (mixed-host refusal,
non-clobbering output paths), the IO-aware host stamp, and the
round-10 verdict fix-ups (de-vacuated anti-join twins, SemDeDup
cosine keep rule, gram-contract raw-flops compare)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))


def _bench_artifact(tmp_path, name, gflops, jvm, io, q=None):
    art = {
        "metric": "total_query_wall_seconds",
        "value": 100.0,
        "queries": q or {"q1": 1.0, "q2": 2.0},
        "host": {
            "host_gflops": gflops,
            "host_jvm_mrows_s": jvm,
            "host_io_mrows_s": io,
        },
    }
    p = tmp_path / name
    p.write_text(json.dumps(art))
    return str(p)


class TestHostNormalizeMixedHost:
    def test_refuses_mixed_host(self, tmp_path, capsys):
        import host_normalize

        a = _bench_artifact(tmp_path, "a.json", 800.0, 300.0, 200.0)
        b = _bench_artifact(tmp_path, "b.json", 300.0, 290.0, 190.0)  # 2.7x BLAS
        rc = host_normalize.main([a, b])
        out = capsys.readouterr().out
        assert rc == 2
        assert "MIXED-HOST" in out

    def test_mixed_ok_flag_acknowledges(self, tmp_path):
        import host_normalize

        a = _bench_artifact(tmp_path, "a.json", 800.0, 300.0, 200.0)
        b = _bench_artifact(tmp_path, "b.json", 300.0, 290.0, 190.0)
        assert host_normalize.main(["--mixed-ok", a, b]) == 0

    def test_same_host_passes(self, tmp_path, capsys):
        import host_normalize

        a = _bench_artifact(tmp_path, "a.json", 800.0, 300.0, 200.0)
        b = _bench_artifact(tmp_path, "b.json", 790.0, 310.0, 210.0)
        assert host_normalize.main([a, b]) == 0
        out = capsys.readouterr().out
        assert "IO stamp" in out  # round-11 proxy participates

    def test_io_stamp_disparity_alone_triggers(self, tmp_path):
        # the r10 blind spot: healthy BLAS/JVM, degraded IO
        import host_normalize

        a = _bench_artifact(tmp_path, "a.json", 800.0, 300.0, 200.0)
        b = _bench_artifact(tmp_path, "b.json", 800.0, 300.0, 50.0)
        assert host_normalize.main([a, b]) == 2

    def test_pre_r11_artifacts_lack_io_stamp(self, tmp_path):
        import host_normalize

        a = _bench_artifact(tmp_path, "a.json", 800.0, 300.0, 200.0)
        art = json.loads(Path(a).read_text())
        del art["host"]["host_io_mrows_s"]
        b = tmp_path / "b.json"
        b.write_text(json.dumps(art))
        assert host_normalize.main([a, str(b)]) == 0  # IO proxy skipped


class TestHostProbeIO:
    def test_io_scan_rate_positive(self, spark):
        from streaming_ecom_analytics_spark.hostprobe import io_scan_mrows_s

        rate = io_scan_mrows_s(spark, reps=1)
        assert rate > 0

    def test_quick_stamp_shape(self, spark):
        from streaming_ecom_analytics_spark.hostprobe import quick_stamp

        s = quick_stamp(spark)
        assert s["gemm_gflops"] > 0
        assert s["io_mrows_s"] > 0

    def test_io_probe_missing_path_is_nan(self, spark):
        import math

        from streaming_ecom_analytics_spark.hostprobe import io_scan_mrows_s

        assert math.isnan(io_scan_mrows_s(spark, path="/nonexistent.parquet"))


class TestCorpusSignatureArtifact:
    def test_build_read_and_reuse(self, spark, tmp_path):
        """First call builds the versioned-lake artifact; the second
        reads the SAME committed version (no rebuild), and the
        artifact-mode pair output equals the recompute-mode output."""
        from streaming_ecom_analytics_spark.functions import dedup
        from streaming_ecom_analytics_spark.sources.versioned_lake import (
            VersionedTable,
        )

        sf = "/root/testdata/sf0.001"
        root = str(tmp_path / "lake")
        sigs, sh = dedup.corpus_signature_artifact(spark, sf, lake_root=root)
        t = VersionedTable(str(tmp_path / "lake"))
        # one committed version per table, reused on the second call
        import glob

        vt_sigs = glob.glob(f"{root}/corpus_*/sigs/_manifests/v*.json")
        assert len(vt_sigs) == 1
        sigs2, _sh2 = dedup.corpus_signature_artifact(spark, sf, lake_root=root)
        assert len(glob.glob(f"{root}/corpus_*/sigs/_manifests/v*.json")) == 1
        assert sigs.count() == sigs2.count() > 0

        from streaming_ecom_analytics_spark import catalog
        from pyspark.sql import functions as F

        docs = catalog.documents(spark, sf)
        new = docs.filter(F.col("source") != "src0")
        ref = docs.filter(F.col("source") == "src0")
        via_artifact = sorted(
            tuple(r)
            for r in dedup.minhash_lsh_pairs_against(
                new, k=3, threshold=0.8, ref_sigs=sigs, ref_sh_hash=sh
            ).collect()
        )
        recompute = sorted(
            tuple(r)
            for r in dedup.minhash_lsh_pairs_against(
                new, ref, k=3, threshold=0.8
            ).collect()
        )
        assert via_artifact == recompute

    def test_requires_reference_or_artifact(self, spark):
        from streaming_ecom_analytics_spark.functions import dedup

        df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dedup.minhash_lsh_pairs_against(df)
        with pytest.raises(ValueError):
            dedup.minhash_lsh_pairs_against(df, ref_sigs=df)


class TestAsymIvfJoin:
    def test_asym_matches_exact_at_shipped_sf(self, spark):
        """The asym (home x probe) candidate rule must still produce
        the exact pair set on the shipped testdata — measured 1.0
        recall at sf0.001/0.01/0.1; this pins the smallest one."""
        from streaming_ecom_analytics_spark import catalog
        from streaming_ecom_analytics_spark.functions import similarity

        sf = "/root/testdata/sf0.001"
        emb = catalog.embeddings(spark, sf)
        n = catalog.parquet_num_rows(sf, "embeddings")
        exact = {
            tuple(r)
            for r in similarity.embedding_near_dup_pairs(
                emb, threshold=0.45, dim=64, n_rows=n, method="block"
            ).select("id_a", "id_b").collect()
        }
        asym = {
            tuple(r)
            for r in similarity.embedding_near_dup_pairs(
                emb, threshold=0.45, dim=64, n_rows=n, method="ivf",
                ivf_target_occupancy=256, ivf_assign_mode="asym",
            ).select("id_a", "id_b").collect()
        }
        assert asym == exact and len(exact) > 0

    def test_asym_finds_planted_duplicates(self, spark):
        import numpy as np

        from streaming_ecom_analytics_spark.functions import similarity

        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(600, 8))
        vecs[100] = vecs[101]  # identical pair
        vecs[200] = vecs[201] + 0.01  # near pair
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        got = {
            (r.id_a, r.id_b)
            for r in similarity.embedding_near_dup_pairs(
                df, threshold=0.95, dim=8, n_rows=600, method="ivf",
                ivf_target_occupancy=64, ivf_assign_mode="asym",
            ).collect()
        }
        assert (100, 101) in got and (200, 201) in got

    def test_registered_queries_run_sym(self):
        """asym is an explicit OPT-IN for BLAS-degraded deployments
        (round-11 measurement: 2x slower + lower recall on a healthy
        host) — no registered query may silently select it."""
        src = (
            Path(REPO)
            / "streaming_ecom_analytics_spark" / "plans" / "extension_queries.py"
        ).read_text()
        assert 'ivf_assign_mode="' not in src  # kwarg use (docs may mention it)

    def test_bad_mode_raises(self, spark):
        from streaming_ecom_analytics_spark import catalog
        from streaming_ecom_analytics_spark.functions import similarity

        emb = catalog.embeddings(spark, "/root/testdata/sf0.001")
        with pytest.raises(ValueError, match="assign_mode"):
            similarity.embedding_near_dup_pairs(
                emb, threshold=0.45, dim=64, n_rows=500, method="ivf",
                ivf_assign_mode="nope",
            ).count()


class TestBenchOutputPath:
    def test_default_full_out_is_not_a_committed_artifact(self):
        import importlib

        assert callable(importlib.import_module("bench").main)
        src = (REPO / "bench.py").read_text()
        assert 'default_out = REPO / "BENCH_FULL_LATEST.json"' in src
        # no default write path may target the committed per-round files
        assert 'default_out = (\n        REPO / "BENCH_LOCAL_r' not in src
