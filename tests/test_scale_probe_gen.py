"""Determinism + distribution-fidelity tests for the scale-probe data
generator (scripts/gen_scale_probe.py) — SCALEPROBE_r7.json is only
meaningful if the probe data is exactly regenerable (seed 7) and
actually mirrors the driver testdata's distributions — and for the
probe's per-query telemetry (scripts/scale_probe.py)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import numpy as np
import pytest

from .conftest import SF_DIR


def _mod():
    spec = importlib.util.spec_from_file_location(
        "gen_scale_probe",
        Path(__file__).resolve().parents[1] / "scripts" / "gen_scale_probe.py",
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_generator_is_deterministic():
    m = _mod()
    a = m.gen_events(np.random.default_rng(7), n=2000, n_users=50)
    b = m.gen_events(np.random.default_rng(7), n=2000, n_users=50)
    assert a.equals(b)
    da = m.gen_documents(np.random.default_rng(7), n=500)
    db = m.gen_documents(np.random.default_rng(7), n=500)
    assert da.equals(db)
    ea = m.gen_embeddings(np.random.default_rng(7), n=200)
    eb = m.gen_embeddings(np.random.default_rng(7), n=200)
    assert ea.equals(eb)


def test_generated_distributions_mirror_testdata_profile():
    m = _mod()
    rng = np.random.default_rng(7)
    ev = m.gen_events(rng, n=50_000, n_users=750).to_pandas()
    # 5 near-uniform event types; exponential value (median ~0.69*mean)
    counts = ev["event_type"].value_counts()
    assert len(counts) == 5 and counts.min() > 0.8 * counts.max()
    med, mean = ev["value"].median(), ev["value"].mean()
    assert 0.6 < med / mean < 0.8
    assert ev["ts"].is_monotonic_increasing  # event_id ordered by time

    docs = m.gen_documents(rng, n=2_000).to_pandas()
    dup = docs["text"].str.endswith(" dup")
    assert dup.sum() == 100  # 5% planted near-dups
    # every dup doc strips back to an existing base text (the driver plant)
    bases = set(docs.loc[~dup, "text"])
    assert all(t[: -len(" dup")] in bases for t in docs.loc[dup, "text"])
    assert (docs["n_chars"] == docs["text"].str.len()).all()

    emb = m.gen_embeddings(rng, n=2_000)
    vecs = np.array(emb["embedding"].to_pylist())
    labels = np.array(emb["label"])
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    # weak label pull: intra-label centroid cosine near the measured
    # testdata band (~0.065), far from both 0 and strong clustering
    pulls = []
    for lab in range(10):
        v = vecs[labels == lab]
        c = v.mean(axis=0)
        c /= np.linalg.norm(c)
        pulls.append(float((v @ c).mean()))
    assert 0.03 < np.mean(pulls) < 0.15


def _probe():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", Path(__file__).resolve().parents[1] / "scripts" / "scale_probe.py"
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    return probe


def test_probe_reads_query_telemetry_from_the_status_store(spark):
    """scale_probe.measure reads shuffle/spill bytes through
    perfbench/spans.SparkJobs and AQE-final join nodes from the SQL
    status store, both in-process: the session keeps its UI off."""
    probe = _probe()
    try:
        m = probe.measure(
            spark, probe.SparkJobs(spark), "revenue_by_nation", SF_DIR, "scale_probe_test"
        )
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    assert "guard" not in m
    assert m["shuffle_write_mb"] > 0
    assert m["spill_mb"] >= 0
    assert sum(m["joins"].values()) >= 1, m["joins"]
    assert spark.sparkContext.uiWebUrl is None


def test_probe_measure_ignores_a_sibling_materializing_the_shared_subtree(spark):
    """A family-shared subtree runs differently once a sibling consumer
    has materialized it: the consumer then reads the cache and writes no
    shuffle of its own. measure() releases shared subtrees first, so a
    consumer's shuffle bytes and join counts do not depend on what ran
    before it."""
    from streaming_ecom_analytics_spark.plans import REGISTRY

    probe = _probe()
    jobs = probe.SparkJobs(spark)
    try:
        before = probe.measure(spark, jobs, "near_dup_minhash_lsh", SF_DIR, "probe_before")
        # dedup_clusters reads the same persisted LSH pair set and runs it
        REGISTRY["dedup_clusters"].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        after = probe.measure(spark, jobs, "near_dup_minhash_lsh", SF_DIR, "probe_after")
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    assert before["joins"] and before["joins"] == after["joins"]
    assert before["shuffle_write_mb"] > 0
    assert after["shuffle_write_mb"] == pytest.approx(before["shuffle_write_mb"], rel=0.05)
