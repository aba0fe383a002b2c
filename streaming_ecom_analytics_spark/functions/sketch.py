"""Count-min sketch as a first-class distributed operator.

A CMS is a depth×width counter grid; item i increments one counter
per row (hash family), and an item's estimate is the MIN over its
depth counters — never an underestimate, overestimate bounded by
2N/width with probability 1-(1/2)^depth (Cormode & Muthukrishnan
2005).

Spark-first realization: the grid IS a DataFrame of (d, idx, c) rows.

- build: explode each item into its depth (family, index) cells —
  pure column expressions (xxhash64 + per-family XOR masks, the same
  construction as functions/dedup.minhash_signatures) — then ONE
  groupBy((d, idx)) count. The shuffle carries 12-byte keys, and the
  aggregate's key space is capped at depth×width cells no matter how
  large the corpus: partial aggregation compresses every partition to
  ≤ depth×width rows map-side, which is the whole point of a sketch —
  fixed-size state, mergeable by addition (union of sketch tables +
  re-aggregation merges sketches of disjoint corpora).
- probe: hash query terms into the same cells, broadcast-join against
  the (tiny) grid, MIN over families. Cells the corpus never touched
  are absent from the table and coalesce to 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.functions.dedup import _mix_constants


def _cells(col_expr, *, depth: int, width: int, seed: int):
    """One (family, index) struct per hash family for an item column."""
    base = F.xxhash64(col_expr)
    return [
        F.struct(
            F.lit(d).alias("d"),
            F.pmod(F.xxhash64(base.bitwiseXOR(F.lit(mask))), F.lit(width)).alias("idx"),
        )
        for d, mask in enumerate(_mix_constants(depth, seed=seed))
    ]


def build_count_min(
    items: DataFrame,
    col: str,
    *,
    depth: int = 5,
    width: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """Build the sketch table: (d, idx, c) with at most depth×width rows."""
    return (
        items.select(
            F.explode(F.array(*_cells(F.col(col), depth=depth, width=width, seed=seed))).alias(
                "cell"
            )
        )
        .select("cell.d", "cell.idx")
        .groupBy("d", "idx")
        .agg(F.count("*").alias("c"))
    )


def estimate_counts(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    *,
    depth: int = 5,
    width: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """Estimate each probe item's frequency: MIN over its depth cells.

    The sketch side broadcasts (≤ depth×width rows by construction);
    probes flow map-side — no shuffle of the probe set beyond the
    final per-item min.
    """
    cells = probes.select(
        F.col(col),
        F.explode(F.array(*_cells(F.col(col), depth=depth, width=width, seed=seed))).alias(
            "cell"
        ),
    ).select(col, "cell.d", "cell.idx")
    return (
        cells.join(F.broadcast(sketch), on=["d", "idx"], how="left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_count"))
    )


def windowed_count_min(
    events: DataFrame,
    *,
    col: str,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str | None = "1 hour",
    depth: int = 5,
    width: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """Count-min sketch per event-time window — streaming-safe
    frequency tracking with HARD-BOUNDED state: at most depth×width
    counters per open window, no matter how many distinct items flow
    (a plain per-item count's state grows with cardinality; this is
    the ST7 trade taken for frequencies instead of distincts).

    Works identically on a batch frame (watermark=None) — the batch
    twin is the test oracle. Output: (window_start, window_end, d,
    idx, c); probe with ``estimate_counts`` filtered to one window.
    """
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.select(
            F.col(ts_col),
            F.explode(
                F.array(*_cells(F.col(col), depth=depth, width=width, seed=seed))
            ).alias("cell"),
        )
        .groupBy(F.window(F.col(ts_col), window), F.col("cell.d"), F.col("cell.idx"))
        .agg(F.count("*").alias("c"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "d",
            "idx",
            "c",
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog: mergeable distinct-count rollups
# ---------------------------------------------------------------------------


def hll_sketches(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    *,
    lg_k: int = 12,
) -> DataFrame:
    """One Apache DataSketches HLL sketch per group over ``item_col``.

    The sketch column is a binary blob of ≤ 2^lg_k registers, built by
    Spark's JVM-side ``hll_sketch_agg`` — fixed-size partial state per
    group no matter how many rows feed it, and mergeable with
    :func:`hll_rollup`. This is the scale answer to COUNT(DISTINCT) at
    coarser grains: sketch ONCE at the fine grain (e.g. per day while
    ingesting), then every coarser rollup (month, quarter, all-time) is
    a union of the tiny sketch table instead of a rescan of the corpus.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(item_col), F.lit(lg_k)).alias("hll")
    )


def hll_rollup(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    sketch_col: str = "hll",
    estimate_alias: str = "approx_distinct",
) -> DataFrame:
    """Merge fine-grain HLL sketches to a coarser grain and estimate.

    Input is :func:`hll_sketches` output; ``group_cols`` are the coarser
    keys (already-present columns or expressions aliased upstream).
    The union is associative and loss-free across sketches, so rolling
    day → month → year re-reads only sketch rows, never raw data.
    """
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(estimate_alias)
    )


# ---------------------------------------------------------------------------
# Bloom filter: set-membership prefilter as a DataFrame of set bits
# ---------------------------------------------------------------------------


def bloom_bits(
    df: DataFrame,
    col: str,
    *,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Build a Bloom filter over ``col`` as a DataFrame of set bit
    positions (single ``idx`` column, ≤ n_bits rows).

    Same grid-as-DataFrame idea as the count-min builder: the filter is
    the DISTINCT of each item's ``n_hashes`` cell indices — fixed-size
    no matter the corpus (partial distinct caps map-side state at
    n_bits), and mergeable across corpora by union+distinct. Spark's
    own runtime bloom pruning (spark.sql.optimizer.runtime.bloomFilter)
    is planner-internal and join-local; this one is an explicit,
    storable, shippable artifact — build once against a 100 TB corpus,
    persist the (few-MB) bit table, prefilter any later scan with it.
    """
    return (
        df.select(
            F.explode(
                F.array(*_cells(F.col(col), depth=n_hashes, width=n_bits, seed=seed))
            ).alias("cell")
        )
        .select(F.col("cell.idx").alias("idx"))
        .distinct()
    )


def bloom_contains_keys(
    keys: DataFrame,
    bits: DataFrame,
    col: str,
    *,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Keys from ``keys`` that the Bloom filter MIGHT contain.

    No false negatives (every inserted key survives); false-positive
    rate ≈ (1 - e^{-kn/m})^k. The bit table broadcasts; the probe is a
    broadcast join + one count-per-key aggregate (a key passes iff all
    ``n_hashes`` of its cells are set).
    """
    probes = keys.select(
        F.col(col),
        F.explode(
            F.array(*_cells(F.col(col), depth=n_hashes, width=n_bits, seed=seed))
        ).alias("cell"),
    ).select(F.col(col), F.col("cell.idx").alias("idx"))
    return (
        probes.join(F.broadcast(bits), on="idx")
        .groupBy(col)
        .agg(F.count("*").alias("__hits"))
        .where(F.col("__hits") == n_hashes)
        .select(col)
    )


def bloom_bitmap(
    df: DataFrame,
    col: str,
    *,
    n_bits: int = 1 << 24,
    n_hashes: int = 5,
    seed: int = 0,
) -> DataFrame:
    """PACKED Bloom filter over ``col``: ONE row holding the whole bit
    table as ``array<long>`` (n_bits/64 words — exactly n_bits/8 bytes,
    2 MB at the default), the membership artifact for
    :func:`bloom_member_expr`.

    :func:`bloom_bits` stores SET POSITIONS as rows (8 bytes each, ≈
    40 bytes per inserted key at 5 hashes) — fine when the filter is
    sparse, but for a big key set the positions table approaches the
    size of the keys themselves and the probe needs a row explosion
    plus a per-key aggregate. The packed form is the honest 100 TB
    artifact: its size is n_bits/8 REGARDLESS of how many keys it
    encodes, it broadcasts as one row, and membership is a pure
    codegen'd boolean (shift/mask on array words) — zero row
    expansion, zero probe-side shuffle.

    Built distributed: per-partition numpy bitmaps (one mapInPandas
    pass over the position stream), then an OR-reduce of the
    |partitions| partial bitmaps through a single-task second pass —
    bounded by partitions × n_bits/8 bytes, never by key count. Hash
    family is :func:`_cells`'s (pmod(xxhash64(xxhash64(v) ^ mask_d),
    n_bits)), so a filter built here is probe-compatible with
    :func:`bloom_member_expr` at the same (n_bits, n_hashes, seed).
    """
    import numpy as np
    import pandas as pd

    if n_bits % 64:
        raise ValueError("bloom_bitmap: n_bits must be a multiple of 64")
    n_words = n_bits // 64
    positions = df.select(
        F.explode(
            F.array(*_cells(F.col(col), depth=n_hashes, width=n_bits, seed=seed))
        ).alias("cell")
    ).select(F.col("cell.idx").alias("idx"))

    def _partial(batches):
        words = np.zeros(n_words, dtype=np.uint64)
        for b in batches:
            idx = b["idx"].to_numpy(dtype=np.uint64)
            np.bitwise_or.at(
                words, (idx >> np.uint64(6)), np.uint64(1) << (idx & np.uint64(63))
            )
        yield pd.DataFrame({"bm": [words.view(np.int64).tolist()]})

    def _reduce(batches):
        words = np.zeros(n_words, dtype=np.int64)
        for b in batches:
            for row in b["bm"]:
                words |= np.asarray(row, dtype=np.int64)
        yield pd.DataFrame({"bm": [words.tolist()]})

    partials = positions.mapInPandas(_partial, "bm array<bigint>")
    # repartition (not coalesce): coalesce would collapse the partial
    # pass into the same single task and serialize the position scan
    return partials.repartition(1).mapInPandas(_reduce, "bm array<bigint>")


def bloom_member_expr(
    col_name: str,
    bitmap_name: str,
    *,
    n_bits: int,
    n_hashes: int = 5,
    seed: int = 0,
) -> Column:
    """Membership predicate against a :func:`bloom_bitmap` column: TRUE
    iff all ``n_hashes`` bits are set — pure built-in long arithmetic
    (element_at + shiftright + mask), fully inside whole-stage codegen.
    ``col_name``/``bitmap_name`` are SQL identifiers (the expression is
    assembled as SQL text because shift amounts are columns, which the
    typed ``F.shiftright`` helper does not accept).
    """
    base = f"xxhash64({col_name})"
    tests = []
    for mask in _mix_constants(n_hashes, seed=seed):
        idx = f"pmod(xxhash64({base} ^ {mask}L), {n_bits}L)"
        word = f"element_at({bitmap_name}, CAST(shiftright({idx}, 6) AS INT) + 1)"
        tests.append(
            f"((shiftright({word}, CAST(pmod({idx}, 64) AS INT)) & 1L) = 1L)"
        )
    return F.expr(" AND ".join(tests))


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Semi join accelerated by a Bloom prefilter on the big side.

    Exact result (equals ``big.join(small, on, "left_semi")``): the
    bloom pass drops the (vast) non-matching majority of ``big``'s keys
    with a broadcast probe — no shuffle of the fact table — and only
    the few survivors (matches + false positives) go through the exact
    semi join that removes the false positives. At 100 TB this turns a
    full-fact-table shuffle into a shuffle of ~|matches| rows.
    """
    bits = bloom_bits(small, on, n_bits=n_bits, n_hashes=n_hashes, seed=seed)
    big_keys = big.select(on).distinct()
    maybe = bloom_contains_keys(
        big_keys, bits, on, n_bits=n_bits, n_hashes=n_hashes, seed=seed
    )
    confirmed = maybe.join(small.select(on).distinct(), on=on, how="left_semi")
    # No forced broadcast: the bloom path earns its keep exactly when
    # the small side (hence `confirmed`) may exceed broadcast size —
    # only the bounded bit table must broadcast. AQE picks the strategy.
    return big.join(confirmed, on=on, how="left_semi")


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — the deterministic counter-based frequent-
# items summary (Misra & Gries 1982), merged per Agarwal et al. 2012
# ("Mergeable Summaries"): a size-k summary whose lower-bound estimates
# satisfy  exact - n/(k+1) <= est <= exact  for EVERY item, and which
# therefore contains every item with frequency > n/(k+1).
# ---------------------------------------------------------------------------


def misra_gries_summary(
    df: DataFrame, key_col: str, *, capacity: int = 8
) -> DataFrame:
    """Distributed Misra-Gries: (item, est) lower-bound frequency
    summary with at most ``capacity`` rows.

    Two stages, both vectorized:
    1. per-partition summaries in one ``mapInPandas`` pass — a
       partition's MG summary is its exact value_counts with the
       (capacity+1)-th largest count subtracted from every counter
       (the merge rule applied to the exact histogram, which is itself
       a valid summary); ≤ capacity rows leave each partition, so the
       shuffle is O(partitions × capacity) regardless of data volume;
    2. merge: sum matching counters, then subtract the (capacity+1)-th
       largest combined count and keep positives (Agarwal et al.'s
       MERGE — the step that keeps total error ≤ n/(capacity+1)).

    The final threshold rank runs on ≤ partitions×capacity rows — a
    sketch-sized frame, never the data.
    """
    import pandas as pd

    cap = int(capacity)

    def partition_mg(batches):
        acc: dict = {}
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            for k, v in vc.items():
                acc[k] = acc.get(k, 0) + int(v)
        s = pd.Series(acc, dtype="int64").sort_values(ascending=False)
        if len(s) > cap:
            s = (s - int(s.iloc[cap])).head(cap)
            s = s[s > 0]
        yield pd.DataFrame({"item": s.index.astype(str), "part_est": s.values})

    parts = df.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        partition_mg, schema="item string, part_est long"
    )
    summed = parts.groupBy("item").agg(F.sum("part_est").alias("c"))
    from pyspark.sql.window import Window

    # deterministic rank over a sketch-sized frame (≤ partitions*capacity
    # rows): single-partition window is bounded by construction
    w = Window.orderBy(F.desc("c"), F.asc("item"))
    ranked = summed.withColumn("rnk", F.row_number().over(w))
    thr = ranked.filter(F.col("rnk") == cap + 1).select(
        F.col("c").alias("thr")
    )
    return (
        ranked.crossJoin(
            F.broadcast(
                thr.groupBy().agg(F.coalesce(F.max("thr"), F.lit(0)).alias("thr"))
            )
        )
        .withColumn("est", F.col("c") - F.col("thr"))
        .filter(F.col("est") > 0)
        .select("item", "est")
    )


def misra_gries_check(
    df: DataFrame, key_col: str, *, capacity: int = 8, top: int = 5
) -> DataFrame:
    """The MG theorems as checkable booleans over the exact top-K items
    (the CMS/HLL bounded-error oracle pattern): for error budget
    E = n/(capacity+1),

    - ``present_ok``: freq > E  ⇒  the item survives in the summary;
    - ``bound_ok``:   exact - E <= est <= exact.

    Both are guaranteed TRUE by Misra-Gries for ANY input, so a SQL
    oracle can emit the exact counts with constant TRUEs — any merge
    or decrement bug flips a boolean."""
    sketch = misra_gries_summary(df, key_col, capacity=capacity)
    exact = (
        df.select(F.col(key_col).cast("string").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("item"))
        .limit(top)
    )
    n = df.groupBy().agg(F.count("*").cast("double").alias("n"))
    err = F.col("n") / (capacity + 1)
    est = F.coalesce(F.col("est"), F.lit(0)).cast("double")
    return (
        exact.join(sketch, on="item", how="left")
        .crossJoin(F.broadcast(n))
        .select(
            "item",
            "exact_count",
            ((F.col("exact_count") <= err) | F.col("est").isNotNull()).alias(
                "present_ok"
            ),
            (
                (F.col("exact_count") - est <= err)
                & (est <= F.col("exact_count"))
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("exact_count"), F.asc("item"))
    )


# ---------------------------------------------------------------------------
# DDSketch — deterministic, fully-mergeable quantile sketch with a
# relative-error guarantee (Masson, Rim & Lee, VLDB 2019).
# ---------------------------------------------------------------------------


def ddsketch_gamma(alpha: float) -> float:
    """The bucket growth factor: buckets are (γ^(i-1), γ^i] with
    γ = (1+α)/(1-α), so the geometric bucket midpoint 2γ^i/(γ+1) is
    within relative error α of EVERY value in the bucket."""
    return (1.0 + alpha) / (1.0 - alpha)


def ddsketch_build(
    values: DataFrame,
    col: str,
    *,
    alpha: float = 0.01,
    group_cols: tuple[str, ...] = (),
    max_buckets: int | None = None,
) -> DataFrame:
    """Build a DDSketch per group: (group_cols..., bucket, c).

    Unlike KLL/t-digest the sketch is DETERMINISTIC and its merge is a
    plain counter sum — so a distributed build is independent of
    partitioning/aggregation order (bit-reproducible, engine-mirrored
    by a SQL twin) and partial aggregation compresses every partition
    map-side to the bucket count, which is bounded by the VALUE RANGE
    (ceil(log_γ(max/min)) buckets), never by the corpus size. Only
    strictly-positive values are sketched (standard DDSketch domain;
    callers route zeros/negatives to their own counters if needed).

    ``max_buckets`` (round-9 verdict #6) is the paper's COLLAPSING
    variant: range-bounded is not hard-bounded — an adversarial value
    span (1e-9..1e9 at α=1%) yields ~2,100 buckets per group, and a
    100 TB corpus with per-group spans deserves an unconditional cap.
    When a group exceeds the cap, its LOWEST buckets collapse into the
    lowest kept bucket (the m-th from the top), preserving total count
    and rank order; quantiles whose answer bucket lies at or above the
    collapse point keep the full α-guarantee (unit-pinned), lower ones
    degrade to an upper-bound estimate — the paper's documented trade.
    The collapse is a per-group window over the SKETCH (≤ range-bound
    rows per group, never corpus-scaled) followed by a re-sum, so the
    build stays two hash aggregates + one sketch-sized window. Default
    None preserves the uncapped sketch bit-for-bit.

    The bucket index is ceil(round(ln(x)/ln(γ), 6)): the 6-dp round
    absorbs cross-engine ln() last-ULP differences that would
    otherwise flip ceil at bucket boundaries (the repo's ROUND(...,6)
    parity convention)."""
    import math

    lng = math.log(ddsketch_gamma(alpha))
    bucket = F.ceil(F.round(F.log(F.col(col)) / F.lit(lng), 6)).alias("bucket")
    sk = (
        values.filter(F.col(col) > 0)
        .groupBy(*group_cols, bucket)
        .agg(F.count("*").alias("c"))
    )
    if max_buckets is None:
        return sk
    return _ddsketch_collapse(sk, group_cols=group_cols, max_buckets=max_buckets)


def _ddsketch_collapse(
    sketch: DataFrame,
    *,
    group_cols: tuple[str, ...],
    max_buckets: int,
) -> DataFrame:
    """Lowest-bucket collapse to at most ``max_buckets`` buckets per
    group: every bucket below the max_buckets-th highest merges into
    that bucket (counter sum). Groups already under the cap pass
    through unchanged (greatest(bucket, cutoff) is the identity when
    the cutoff is the group's lowest bucket). The window partitions by
    the group and ranks a sketch-sized frame — with empty group_cols
    it is a single global window over ≤ the range bound rows, bounded
    by construction."""
    from pyspark.sql.window import Window

    if max_buckets < 1:
        raise ValueError(f"max_buckets must be >= 1, got {max_buckets}")
    w = Window.partitionBy(*group_cols).orderBy(F.desc("bucket"))
    ranked = sketch.withColumn("__rnk", F.row_number().over(w))
    cutoff = F.min(
        F.when(F.col("__rnk") <= max_buckets, F.col("bucket"))
    ).over(Window.partitionBy(*group_cols))
    return (
        ranked.withColumn(
            "bucket", F.greatest(F.col("bucket"), cutoff)
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("c").alias("c"))
    )


def ddsketch_quantiles(
    sketch: DataFrame,
    *,
    alpha: float = 0.01,
    q_pcts: tuple[int, ...] = (50, 90, 99),
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantile estimates from a DDSketch: for integer percentile p the
    target rank is (p·(n-1)) div 100 + 1 (1-indexed, integer-exact in
    both engines — no float rank boundaries), the answer bucket is the
    smallest whose cumulative count reaches that rank, and the estimate
    is the geometric bucket midpoint 2γ^i/(γ+1) — guaranteed within
    relative error α of the true rank element (unit-pinned vs numpy).

    Output: (group_cols..., q_pct, n_pos, bucket, est_micros). The
    cumulative window is partitioned by the group and ordered by
    bucket — its frame is the per-group BUCKET list, bounded by the
    value range (not the corpus), so the sort is sketch-sized. With
    empty ``group_cols`` the rank join degenerates to a (bounded)
    range-only join between two SKETCH-sized frames — still never
    corpus-scaled, but grouped callers get a plain equi-join."""
    from pyspark.sql.window import Window

    from streaming_ecom_analytics_spark.caching import persist_tracked

    g = ddsketch_gamma(alpha)
    spark = sketch.sparkSession
    qf = spark.createDataFrame([(int(p),) for p in q_pcts], "q_pct long")
    # the sketch frame is tiny (range-bounded buckets) but its subtree
    # is a full corpus scan — persist so totals + the cumulative walk
    # share ONE build instead of scanning twice
    sketch = persist_tracked(sketch)
    totals = sketch.groupBy(*group_cols).agg(F.sum("c").alias("n_pos"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("c").over(w))
    # both sides derive from `sketch` — rename the rank side's group
    # columns so the equi-join keys are unambiguous (no self-join
    # column lineage)
    ranks = (
        totals.select(
            *[F.col(c).alias(f"__g_{c}") for c in group_cols], "n_pos"
        )
        .crossJoin(F.broadcast(qf))
        .withColumn("rank_1", F.expr("q_pct * (n_pos - 1) div 100") + F.lit(1))
    )
    on = [F.col(c) == F.col(f"__g_{c}") for c in group_cols] or [F.lit(True)]
    picked = (
        cum.join(
            ranks,
            on=[*on, F.col("cum") >= F.col("rank_1")],
        )
        .groupBy(
            *[F.col(f"__g_{c}").alias(c) for c in group_cols], "q_pct", "n_pos"
        )
        .agg(F.min("bucket").alias("bucket"))
    )
    est = (
        F.lit(2.0)
        * F.pow(F.lit(g), F.col("bucket").cast("double"))
        / F.lit(g + 1.0)
    )
    return picked.select(
        *group_cols,
        "q_pct",
        "n_pos",
        "bucket",
        F.floor(est * F.lit(1000000.0)).cast("long").alias("est_micros"),
    )


def windowed_ddsketch(
    events: DataFrame,
    *,
    col: str,
    ts_col: str = "ts",
    window: str = "15 minutes",
    watermark: str | None = "1 hour",
    alpha: float = 0.01,
) -> DataFrame:
    """DDSketch per event-time window — streaming quantiles with
    HARD-BOUNDED state: at most #buckets counters per open window
    (bounded by the value RANGE, not the stream volume or cardinality),
    and because both the bucket function and the merge (counter sum)
    are deterministic, the streaming grid is bit-equal to the batch
    twin no matter how micro-batches split the data (unit-pinned, the
    windowed_count_min pattern).

    Works identically on a batch frame (watermark=None) — the batch
    twin is the test oracle. Output: (window_start, window_end,
    bucket, c); feed ``ddsketch_quantiles`` with
    group_cols=("window_start", "window_end") for per-window p50/p99.

    Hard bucket cap: streaming state is already bounded by the value
    range; for an unconditional cap, apply ``_ddsketch_collapse`` to
    each micro-batch's OUTPUT in the foreachBatch materializer (the
    collapse is a window function, which streaming aggregation cannot
    host pre-state; collapsing a merged/emitted grid is the paper's
    read-time collapse and preserves the same guarantee).
    """
    import math

    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    lng = math.log(ddsketch_gamma(alpha))
    bucket = F.ceil(F.round(F.log(F.col(col)) / F.lit(lng), 6)).alias("bucket")
    return (
        df.filter(F.col(col) > 0)
        .groupBy(F.window(F.col(ts_col), window), bucket)
        .agg(F.count("*").alias("c"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "bucket",
            "c",
        )
    )
