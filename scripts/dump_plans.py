"""Generate PLANS.md: the executed physical plan of every headline
query (plus selected scale-critical ones) at a given sf_dir.

The plan IS the product at 100 TB — this artifact makes the shapes
reviewable without running Spark: pushed filters, read schemas,
broadcast-vs-shuffle choices, codegen spans, exchange counts.

Usage:
    python scripts/dump_plans.py [sf_dir] > PLANS.md
    python scripts/dump_plans.py --hashes [sf_dir] > PLANSHASH_r6.json

``--hashes`` emits a canonicalized plan-shape fingerprint for EVERY
registered query (round-5 verdict #5): node kinds in tree order with
expression ids/literals stripped, plus join-strategy and exchange
counts, md5-hashed — so plan regressions (a broadcast join silently
becoming sort-merge, a new exchange) diff exactly like value hashes:
one changed entry per changed query.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

EXTRA = [
    "revenue_by_nation",
    "near_dup_minhash_lsh",
    "dedup_exact",
    "ann_pq_topk",
    "doc_containment",
    "event_stream_dedup",
    "revenue_ewma_daily",
    "abandoned_cart_users",
    "event_session_attribution",
    "rolling_user_spend_7d",
    # round-4 late wave
    "part_skyline",
    "kmeans_fit_trace",
    "span_dedup_docs",
    "linear_attribution_daily",
    "item_kcore",
    "orders_snapshot_diff",
    # round-5 wave
    "training_export_manifest",
    "embedding_centroid_auc",
    "lm_generalization_gap",
    "split_leakage_audit",
    "contrastive_pairs",
    "item_jaccard_topk",
    "revenue_pareto",
    "daily_new_vs_returning",
    # round-6 wave
    "purchase_negative_samples",
    "ann_ivfpq_topk",
    "dominant_part_suppliers",
    "gopher_quality_flags",
    "jaccard_band_histogram",
    "cuped_adjusted_ab",
    "revenue_cusum_drift",
    "hot_shingles",
    "mixture_token_budget",
    "revenue_pareto_scaled",
    # round-7 wave
    "near_dup_jaccard_capped",
    "item_triangles",
    "item_clustering_coefficients",
    # round-8 wave: the scale-safe mid-threshold IVF similarity join
    "embedding_near_dups_scalable",
    "embedding_dup_clusters_scalable",
    "embedding_ivf_join_recall",
    "doc_novelty_scores",
]


_NODE_RE = re.compile(r"^[\s:+\-*()\d]*([A-Za-z][A-Za-z0-9_]*)")

# Structural tree depth of a plan line: the column of its "+- " / ":- "
# branch glyph. The round-7..11 tagger used the column of the node NAME
# instead, which codegen stars shift right ("*(12) HashAggregate" names
# 6 columns deeper than an unstarred sibling at the same tree depth), so
# a starred sibling AFTER an InMemoryRelation failed the subtree-exit
# test and whole consumer trees were mis-tagged (round-11 verdict #5:
# split_leakage_audit read 165 consumer exchanges / 1 cache exchange —
# the inversion of its real plan). Lines WITHOUT a glyph — the true plan
# root, and the first node under a materialized-AQE section header like
# "+- == Final Plan ==" inside an InMemoryRelation — take their
# rail-stripped indentation as depth (a bare -1 made every section root
# falsely EXIT the cache subtree, resurrecting the inversion whenever a
# cache was already materialized at dump time).
_GLYPH_RE = re.compile(r"^([\s:]*)[+:]- ")
_RAIL_RE = re.compile(r"^([\s:]*)")
_SECTION_RE = re.compile(r"== \w[\w ]* ==")


def _structural_col(raw: str) -> int:
    m = _GLYPH_RE.match(raw)
    if m:
        return len(m.group(1))
    return len(_RAIL_RE.match(raw).group(1))


def _top_level_groups(raw: str) -> list[str]:
    """Top-level [...] bracket groups of one plan line (nested brackets
    stay inside their group)."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(raw):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start >= 0:
                groups.append(raw[start + 1 : i])
                start = -1
    return groups


def _is_global_window(raw: str) -> bool:
    """True when a Window plan line has NO partition spec.

    ``Window [exprs], [partitionSpec], [orderSpec]`` — a partitioned
    window carries a partition group (no ASC/DESC) before the optional
    order group; a global window's only trailing group is the order
    spec (always ordered — an unordered global window would be a plain
    aggregate). Every global window funnels the frame through ONE
    partition, so each one must be a documented bounded frame
    (PLANS.md allowlist; round-6 verdict #6)."""
    tail = _top_level_groups(raw)[1:]
    return len(tail) == 1 and ("ASC" in tail[0] or "DESC" in tail[0])


def plan_fingerprint(plan: str) -> dict:
    """Canonical shape fingerprint of one executed-plan string.

    Keeps: node kinds in tree order; Exchange partitioning flavor;
    join type qualifiers (Inner/LeftAnti/...) on join nodes; scan
    format. Strips: expression ids (#123), codegen stage ids, literal
    values, column names inside expressions — anything that churns
    without the SHAPE changing. The md5 of the canonical node list is
    the regression key; the counters make a diff human-readable.

    Cache-build subtrees are counted SEPARATELY (round-7 verdict #2):
    an ``InMemoryRelation``'s nested child plan describes how the cache
    is built ONCE, not per-consumer work, so counting its exchanges in
    ``n_exchanges`` made the fingerprint drift when a persist was added
    (triangle family 55→58 in r7 while wall time fell 35%). Nodes
    inside an InMemoryRelation subtree get a ``cache:`` tag prefix and
    their exchanges land in ``n_cache_build_exchanges``; ``n_exchanges``
    is per-consumer plan shape only, stable under persist-only changes.
    ``ReusedExchange``/``ReusedSubquery`` nodes are likewise counted on
    their own.

    Round 12 (round-11 verdict #5): subtree membership is decided by
    STRUCTURAL tree depth (the branch-glyph column, ``_structural_col``)
    instead of the node name's column, which codegen stars shifted —
    the mis-tagging that inverted split_leakage_audit's counters."""
    nodes: list[str] = []
    n_global_windows = 0
    cache_col: int | None = None  # structural depth of the open InMemoryRelation
    for raw in plan.splitlines():
        # Materialized-AQE caches print "== Final Plan ==" / "== Initial
        # Plan ==" sections whose content indentation RESTARTS relative
        # to the section header — often SHALLOWER than the enclosing
        # InMemoryRelation's own depth — so while a cache is open, a
        # section header lowers the exit boundary to its own column
        # (content sits deeper than the header; the consumer tree
        # resumes at or above the original relation's ancestors).
        if cache_col is not None and "== " in raw and _SECTION_RE.search(raw):
            cache_col = min(cache_col, _structural_col(raw))
        m = _NODE_RE.match(raw)
        if not m:
            continue
        kind = m.group(1)
        if kind in ("Arguments", "Output", "Input", "Condition", "ReadSchema"):
            continue
        col = _structural_col(raw)
        if cache_col is not None and col <= cache_col:
            cache_col = None  # left the cache-build subtree
        in_cache = cache_col is not None
        if kind == "InMemoryRelation" and cache_col is None:
            cache_col = col  # deeper lines are the cache's build plan
        if kind == "Window" and _is_global_window(raw):
            # counted whether or not it sits in a cache-build subtree:
            # a one-partition funnel runs either way
            n_global_windows += 1
        tag = kind
        if kind == "Exchange":
            flavor = re.search(r"(hashpartitioning|SinglePartition|rangepartitioning|RoundRobinPartitioning)", raw)
            tag += ":" + (flavor.group(1) if flavor else "other")
        elif "Join" in kind:
            jt = re.search(
                r"\b(Inner|FullOuter|LeftOuter|RightOuter|LeftSemi|LeftAnti|Cross|ExistenceJoin)\b",
                raw,
            )
            side = re.search(r"\b(BuildLeft|BuildRight)\b", raw)
            tag += ":" + (jt.group(1) if jt else "?") + (
                ":" + side.group(1) if side else ""
            )
        elif kind == "FileScan":
            fmt = re.search(r"FileScan (\w+)", raw)
            tag += ":" + (fmt.group(1) if fmt else "?")
        nodes.append(("cache:" if in_cache else "") + tag)
    canonical = "\n".join(nodes)
    main = [n for n in nodes if not n.startswith("cache:")]
    cache = [n[len("cache:"):] for n in nodes if n.startswith("cache:")]
    return {
        "hash": hashlib.md5(canonical.encode()).hexdigest()[:16],
        "n_nodes": len(nodes),
        "n_exchanges": sum(n.startswith("Exchange") for n in main),
        "n_cache_build_exchanges": sum(n.startswith("Exchange") for n in cache),
        "n_reused_exchanges": sum(n.startswith("ReusedExchange") for n in main),
        "n_inmemory_scans": sum(n.startswith("InMemoryTableScan") for n in main),
        "n_broadcast_hash_joins": sum(
            n.startswith("BroadcastHashJoin") for n in main
        ),
        "n_sort_merge_joins": sum(n.startswith("SortMergeJoin") for n in main),
        "n_bnl_joins": sum(n.startswith("BroadcastNestedLoopJoin") for n in main),
        "n_cartesian": sum(n.startswith("CartesianProduct") for n in nodes),
        "n_scans": sum(n.startswith("FileScan") for n in main),
        "n_windows": sum(n == "Window" for n in main),
        "n_global_windows": n_global_windows,
    }


def query_fingerprint(spark, name: str, sf_dir: str) -> dict:
    """Fingerprint one registered query's executed plan, built with no
    cache left by an earlier query. A family-shared subtree prints
    differently once a sibling consumer has materialized it, so shared
    subtrees are released with the tracked caches before the build:
    every query is dumped with its shared subtrees unbuilt, whatever
    ran before it."""
    from streaming_ecom_analytics_spark.caching import release_shared, release_tracked
    from streaming_ecom_analytics_spark.plans import REGISTRY

    release_tracked()
    release_shared()
    df = REGISTRY[name].fn(spark, sf_dir)
    return plan_fingerprint(df._jdf.queryExecution().executedPlan().toString())


def dump_hashes(sf_dir: str) -> int:
    from streaming_ecom_analytics_spark.plans import REGISTRY
    from streaming_ecom_analytics_spark.session import get_spark

    spark = get_spark(app_name="plan_hashes")
    out = {name: query_fingerprint(spark, name, sf_dir) for name in sorted(REGISTRY)}
    json.dump({"sf_dir": sf_dir, "plans": out}, sys.stdout, indent=1)
    sys.stdout.write("\n")
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--hashes":
        return dump_hashes(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from streaming_ecom_analytics_spark.caching import release_tracked
    from streaming_ecom_analytics_spark.plans import REGISTRY
    from streaming_ecom_analytics_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    names = sorted(
        {n for n, rq in REGISTRY.items() if getattr(rq, "headline", False)} | set(EXTRA)
    )
    print("# PLANS — executed physical plans of the headline queries")
    print()
    print(f"Generated by `scripts/dump_plans.py {sf_dir}`. Plans are the")
    print("AQE-final executed plans after one run; long literal lists are")
    print("elided. Re-generate after any plan-affecting change.")
    print()
    print("## Global-window allowlist")
    print()
    print("Unpartitioned windows funnel their frame through ONE partition —")
    print("the classic scale killer — so every one in this engine sits on a")
    print("PROVABLY bounded frame: day spines after aggregation (≤ a few")
    print("hundred rows), |shuffle-partitions|-row offset tables")
    print("(operators/prefix.py), sketch-capped rank frames, top-200 Zipf")
    print("frames. The exact per-query counts are pinned BOTH ways by")
    print("tests/test_plans.py::test_global_windows_pinned_to_documented_allowlist")
    print("(GLOBAL_WINDOW_ALLOWLIST) via the PLANSHASH `n_global_windows`")
    print("counter; WindowExec's per-run warning is muted in session.py")
    print("because this structural pin replaces it. A new query that needs a")
    print("global window on a data-scaled frame should use")
    print("operators/prefix.running_total (distributed exact prefix sums)")
    print("instead.")
    for name in names:
        if name not in REGISTRY:
            continue
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        release_tracked()
        # elide huge literal arrays (LSH planes etc.) and trim trailing ids
        plan = re.sub(r"\[([-\d.E, ]{120})[-\d.E, ]+\]", r"[\1 …]", plan)
        lines = plan.splitlines()
        if len(lines) > 60:
            lines = lines[:60] + [f"   … ({len(plan.splitlines()) - 60} more lines)"]
        print(f"\n## {name}\n")
        print("```")
        print("\n".join(lines))
        print("```")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
