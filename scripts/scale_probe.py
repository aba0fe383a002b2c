"""Empirical scale probe (round-6 verdict #1): measure the heaviest
registered queries at sf0.1 AND at the 10x sf1-equivalent probe data
(scripts/gen_scale_probe.py), and record per-query scaling exponents.

exponent = log(t_probe / t_sf01) / log(scale)

~1.0 = linear (the shape SCALE.md argues for most queries);
< 1.0 = fixed overhead still dominates at probe scale (stage
        orchestration, JVM startup amortization);
> 1.0 = super-linear — either a documented reason (e.g. LSH candidate
        pairs grow with corpus density, fixpoint rounds grow with graph
        diameter) or a scale bug to fix.

Method: one untimed warmup pass at sf0.001 (JIT/codegen), then
``runs`` timed passes per scale, per-query MEDIAN, noop sink — the
same protocol as bench.py so numbers are comparable, except that each
query starts with no cache left by an earlier one: a consumer of a
family-shared subtree pays for building it on every run. Each query runs
under its own job group; its shuffle and spill bytes are read from the
in-process status store through ``perfbench/spans.SparkJobs`` (the
reader the benchmark's traced runs use), and its AQE-final join nodes
from the SQL status store. Both work with the UI off.

Usage:
    python scripts/gen_scale_probe.py                 # once
    python scripts/scale_probe.py > SCALEPROBE_r7.json
Env: SPARK_GRAFT_PROBE_RUNS (default 3), SPARK_GRAFT_PROBE_SCALES.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

from spans import SparkJobs  # noqa: E402

from streaming_ecom_analytics_spark.caching import (  # noqa: E402
    release_shared,
    release_tracked,
)
from streaming_ecom_analytics_spark.plans import REGISTRY  # noqa: E402
from streaming_ecom_analytics_spark.session import get_spark  # noqa: E402

# The 18 heaviest queries of BENCH_LOCAL_r6.json — every >2.5 s shape:
# graph fixpoints (events), the full curation/dedup compositions
# (documents), and the ANN family (embeddings). Together they cover
# every plan family SCALE.md makes a 100 TB claim about.
PROBE_QUERIES = [
    "item_pagerank",
    "training_export_manifest",
    "curated_documents",
    "dedup_keep_best",
    "ann_lsh_topk",
    "dedup_clusters",
    "split_leakage_audit",
    "item_communities",
    "doc_novelty_scores",
    "jaccard_band_histogram",
    "embedding_top_eigenvector",
    "near_dup_minhash_lsh",
    "ann_ivfpq_topk",
    "quality_classifier_eval",
    "ann_pq_topk",
    "ann_ivf_topk",
    "near_dup_jaccard",
    "embedding_dup_clusters",
    # round-8 additions (round-7 verdict #1/#4): the scale-safe IVF
    # similarity-join family (must complete at 100x, no guard refusal)
    # and the capped-Jaccard bound that was argued but never probed
    "embedding_near_dups_scalable",
    "embedding_dup_clusters_scalable",
    "near_dup_jaccard_capped",
    # round-9 session-2 additions: the new sketch/curation-policy tier's
    # scale claims (range-bounded DDSketch state, k-independent SemDeDup,
    # two-scan int8 audit, ~m-row coreset) get measured exponents too.
    # Round 10: semantic_dedup_prune is now the exact guarded twin
    # (refuses past 250k by design); the probed query is the scalable
    # IVF-backed variant with the cluster-pushdown candidate key.
    "ddsketch_value_quantiles_15m",
    "semantic_dedup_prune_scalable",
    "embedding_int8_quantization",
    "kmeans_coreset_sample",
    # round-10 production-ingest tier: the bloom prefilter's claim is
    # that contamination checks stay corpus-shuffle-free, the
    # cross-corpus pairer's that ingest cost is linear in the delta,
    # and the curriculum's that the global rank is a distributed sort
    # (no single-reducer window) — all three get measured exponents.
    "decontaminate_bloom",
    "near_dup_cross_corpus",
    "curriculum_schedule",
    # round-12 additions (round-11 verdict #3/#4): the scalable triplet
    # miner's exponent contract, and the corpus-snapshot signing pass —
    # the amortized build cost the stored-artifact queries no longer pay
    # per run, now measured per decade instead of narrated.
    "contrastive_pairs_scalable",
    "corpus_signature_build",
]

# (label, dir, relative scale). Override with SPARK_GRAFT_PROBE_SCALES =
# "label:dir:scale,label:dir:scale,..." — e.g. add a third decade:
#   python scripts/gen_scale_probe.py /root/repo/scale_probe/sf10 --scale 100
#   SPARK_GRAFT_PROBE_SCALES="sf0.1:/root/testdata/sf0.1:1,\
# sf1_probe:/root/repo/scale_probe/sf1:10,\
# sf10_probe:/root/repo/scale_probe/sf10:100" python scripts/scale_probe.py
_DEFAULT_SCALES = [
    ("sf0.1", "/root/testdata/sf0.1", 1.0),
    ("sf1_probe", str(REPO / "scale_probe" / "sf1"), 10.0),
]
_env_scales = os.environ.get("SPARK_GRAFT_PROBE_SCALES")
SCALES = (
    [
        (p.split(":")[0], p.split(":")[1], float(p.split(":")[2]))
        for p in _env_scales.split(",")
    ]
    if _env_scales
    else _DEFAULT_SCALES
)

_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def _newest_execution_id(sql_store) -> int:
    it = sql_store.executionsList().reverseIterator()
    return it.next().executionId() if it.hasNext() else -1


def _join_counts(sql_store, after_id: int) -> dict[str, int]:
    """Physical-join-node counts over the SQL executions newer than
    ``after_id``. For AQE plans the stored node graph is the FINAL
    adaptively-chosen plan, so a broadcast→SMJ flip between decades is
    a data point even when the static plan is identical across scales."""
    counts = dict.fromkeys(_JOIN_NODES, 0)
    execs = sql_store.executionsList().reverseIterator()
    while execs.hasNext():
        eid = execs.next().executionId()
        if eid <= after_id:
            break
        nodes = sql_store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            nm = nodes.next().name()
            for j in _JOIN_NODES:
                if nm.startswith(j):
                    counts[j] += 1
                    break
    return {k: v for k, v in counts.items() if v}


def measure(spark, jobs: SparkJobs, name: str, sf_dir: str, group: str) -> dict:
    """Run one registered query into the noop sink under job group
    ``group``. Returns its wall seconds (``sec``), the shuffle-write and
    spill MB of the group's stages, and the join-node counts of the SQL
    executions it started (``joins``). A query that raises returns
    ``guard`` instead: a brute-force guard refusing an out-of-contract
    scale is a result (the guard working), not a crash.

    Tracked caches and family-shared subtrees are released first, as
    ``dump_plans.query_fingerprint`` does: a consumer of a shared
    subtree then builds it itself, so what it runs (and costs) does not
    depend on which family members ran before it."""
    release_tracked()
    release_shared()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    after_id = _newest_execution_id(sql_store)
    jobs.label(group)
    t0 = time.perf_counter()
    try:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        return {"guard": f"{type(exc).__name__}: " + str(exc).splitlines()[0][:160]}
    sec = time.perf_counter() - t0
    stages = jobs.collect(group)  # drains the listener bus first
    return {
        "sec": sec,
        "shuffle_write_mb": stages["shuffle_write_mb"],
        "spill_mb": stages["spill_mb"],
        "joins": _join_counts(sql_store, after_id),
    }


def _slope(pts: list[tuple[float, float]]) -> float | None:
    """OLS slope of y on x, or None below two points."""
    if len(pts) < 2:
        return None
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    return round((n * sxy - sx * sy) / (n * sxx - sx * sx), 3)


def main() -> int:
    runs = max(1, int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "3")))
    spark = get_spark(app_name="scale_probe")
    jobs = SparkJobs(spark)

    from streaming_ecom_analytics_spark.hostprobe import host_fixture

    for name in PROBE_QUERIES:  # warmup: JIT + codegen, untimed
        REGISTRY[name].fn(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
        release_tracked()

    # Pre-build per-decade corpus signature artifacts UNTIMED (round
    # 11): near_dup_cross_corpus reads a versioned_lake artifact built
    # once per corpus snapshot — a snapshot-CREATION cost. With probe
    # runs=1 the first timed pass would otherwise pay the corpus-side
    # build, hiding exactly the delta-linearity the probe exists to
    # show (the committed registered-query cost is the read path).
    if "near_dup_cross_corpus" in PROBE_QUERIES:
        from streaming_ecom_analytics_spark.functions import dedup as _dedup

        for _lab, _dir, _s in SCALES:
            _dedup.corpus_signature_artifact(spark, _dir)
            release_tracked()

    # host-throughput stamp per decade (round-9 verdict #2/#5: the r9
    # artifacts mixed a fast-BLAS and a slow-BLAS session and every
    # reader had to go through SCALE.md's adjudication prose — with a
    # fixture PER SCALE, an exponent read off two decades carries its
    # own host-consistency evidence)
    host_stamps: dict[str, dict] = {}

    timings: dict[str, dict[str, float]] = {n: {} for n in PROBE_QUERIES}
    guards: dict[str, dict[str, str]] = {n: {} for n in PROBE_QUERIES}
    # status-store metrics of each query's first run
    metrics: dict[str, dict[str, dict]] = {n: {} for n in PROBE_QUERIES}
    for label, sf_dir, _scale in SCALES:
        host_stamps[label] = host_fixture(spark)
        print(f"scale_probe: {label} host fixture {host_stamps[label]}", file=sys.stderr)
        samples: dict[str, list[float]] = {n: [] for n in PROBE_QUERIES}
        for run_i in range(runs):
            for name in PROBE_QUERIES:
                m = measure(spark, jobs, name, sf_dir, f"scale_probe:{label}:{name}:{run_i}")
                if "guard" in m:
                    guards[name][label] = m["guard"]
                else:
                    samples[name].append(m["sec"])
                    if run_i == 0:
                        metrics[name][label] = m
        for name, xs in samples.items():
            if xs:
                timings[name][label] = round(statistics.median(xs), 3)

    out = {}
    for name, t in timings.items():
        row: dict = {f"{lab}_sec": t[lab] for lab, _d, _s in SCALES if lab in t}
        # slope of log(t) on log(scale) over every measured point
        exponent = _slope([(math.log(s), math.log(t[lab])) for lab, _d, s in SCALES if lab in t])
        if exponent is not None:
            row["exponent"] = exponent
        ms = metrics[name]
        for lab, _d, _s in SCALES:
            if lab in ms:
                row[f"{lab}_shuffle_write_mb"] = round(ms[lab]["shuffle_write_mb"], 2)
                row[f"{lab}_spill_mb"] = round(ms[lab]["spill_mb"], 2)
        # shuffle-volume scaling exponent: a query whose shuffle grows
        # super-linearly while wall time doesn't is a hidden cliff.
        # Suppressed when every measured volume is <5 MB — a ratio of
        # two near-zero numbers (a broadcast-only plan's residual bytes)
        # is noise, not a scaling signal.
        if max((m["shuffle_write_mb"] for m in ms.values()), default=0) >= 5:
            shuffle_exponent = _slope([
                (math.log(s), math.log(ms[lab]["shuffle_write_mb"]))
                for lab, _d, s in SCALES
                if lab in ms and ms[lab]["shuffle_write_mb"] > 0
            ])
            if shuffle_exponent is not None:
                row["shuffle_exponent"] = shuffle_exponent
        for lab, _d, _s in SCALES:
            if lab in ms and ms[lab]["joins"]:
                row[f"{lab}_join_strategies"] = ms[lab]["joins"]
        if guards[name]:
            row["guard_fired"] = guards[name]
        out[name] = row
    doc = {
        "probe": "row-count scale probe (gen_scale_probe.py seed 7)",
        "scales": {lab: s for lab, _d, s in SCALES},
        "runs_per_scale": runs,
        "aggregation": "median (timings); first run's status-store totals for the query's job group (shuffle/spill) and join nodes of its SQL executions' plan graphs (join strategies, AQE-final)",
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        # pinned BLAS-GEMM + JVM-codegen throughput measured at the
        # START of each decade's timed block (hostprobe.py): exponents
        # are only comparable when these agree across decades, and a
        # disagreement is now a number in the artifact, not a story
        "host": {
            lab: {k: v for k, v in st.items() if not isinstance(v, dict)}
            for lab, st in host_stamps.items()
        },
        "host_end": {
            k: v for k, v in host_fixture(spark).items() if not isinstance(v, dict)
        },
        "queries": out,
        "totals": {
            lab: round(
                sum(t[lab] for t in timings.values() if lab in t), 2
            )
            for lab, _d, _s in SCALES
        },
    }
    json.dump(doc, sys.stdout, indent=1)
    sys.stdout.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
