"""Corpus curation — the operators composed into one training-data
pipeline.

``curate_documents`` is the canonical pretraining-cleanup chain:

    quality filter → language filter → exact dedup → near-dup removal

Each stage is one of the engine's verified operators; the composition
stays a single lazy plan (Catalyst fuses the quality/language
projections into one pass over the corpus; only the dedup stages
shuffle). The near-dup stage uses MinHash+LSH — the 100 TB path — and
removes the LARGER doc_id of each similar pair (keep-first policy,
deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark.caching import persist_tracked
from streaming_ecom_analytics_spark.functions import dedup, text


def curate_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    keep_langs: tuple[str, ...] | None = None,
    near_dup_threshold: float = 0.8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Filter + dedup a document corpus; returns surviving rows of
    ``docs`` with a ``quality_score`` column attached.

    ``pairs`` (optional): a precomputed exact-verified near-dup pair
    frame (doc_a, doc_b, ...) over the FULL corpus at the same
    shingle/threshold parameters — e.g. the family-shared LSH subtree
    (caching.shared_subtree) or a persisted signature artifact.
    Because MinHash signatures, banded candidates, and the exact
    Jaccard verify are all per-pair properties of the two documents
    alone, the pair set over any SUBSET equals the full-corpus pair
    set restricted to pairs with both endpoints in the subset — so the
    survivors computed from restricted full-corpus pairs are identical
    to recomputing LSH on the filtered corpus (oracle-checked both
    ways). When provided, the quality/exact-dedup stages still run
    here; only the near-dup pair generation is skipped."""
    # quality is an inline projection (quality_score_col), not a join
    # back to a derived frame — scoring 100 TB must not shuffle it
    kept = docs.withColumn(
        "quality_score", text.quality_score_col(text_col)
    ).filter(F.col("quality_score") >= min_quality)
    if keep_langs is not None:
        lang = text.language_id(kept, text_col=text_col, id_col=id_col).select(
            id_col, "lang_pred"
        )
        kept = kept.join(lang, on=id_col).filter(
            F.col("lang_pred").isin(*keep_langs)
        ).drop("lang_pred")

    # exact dedup: keep the min-id representative of each content hash
    reps = dedup.exact_dedup(kept, text_col=text_col, id_col=id_col).select(id_col)
    kept = kept.join(reps, on=id_col, how="left_semi")
    # The filtered corpus feeds three downstream branches (shingling,
    # the verify joins, the final anti-join probe); persist it so the
    # regex-heavy quality projection and the semi-join run once, not
    # per branch. Tracked — the host releases it post-materialization.
    kept = persist_tracked(kept)

    # near-dup removal: drop the larger id of each LSH-verified pair
    if pairs is None:
        pairs = dedup.minhash_lsh_pairs(
            kept, text_col=text_col, id_col=id_col, threshold=near_dup_threshold
        )
    else:
        # restrict full-corpus pairs to those with BOTH endpoints kept:
        # a pair whose doc_a was already dropped by the quality gate or
        # exact dedup must not eliminate its doc_b (see docstring)
        kept_ids = kept.select(id_col)
        pairs = pairs.join(
            kept_ids.withColumnRenamed(id_col, "doc_a"), on="doc_a", how="left_semi"
        ).join(
            kept_ids.withColumnRenamed(id_col, "doc_b"), on="doc_b", how="left_semi"
        )
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return kept.join(losers, on=id_col, how="left_anti")


def split_exprs(
    *,
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
):
    """The (bucket, split) column expressions behind the deterministic
    md5 split — exposed so callers can attach the split INLINE on any
    frame that carries the id column, instead of joining back to an
    ``assign_splits`` frame. Both forms are the same bytes; the inline
    form is a narrow projection (zero shuffle, zero join), which is
    what a 100 TB curated frame wants."""
    h = F.md5(F.col(id_col).cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * F.lit(256) + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return bucket.cast("long"), split


def with_split(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Attach the deterministic split to ``docs`` as an inline column —
    the join-free form of :func:`assign_splits`. Use this when the
    frame being split is expensive to compute (e.g. the full curation
    pipeline): the alternative ``cur.join(assign_splits(cur))`` plan
    evaluates the curation subtree TWICE because the two join inputs
    project different columns and ReuseExchange cannot merge them."""
    _, split = split_exprs(id_col=id_col, val_pct=val_pct, test_pct=test_pct)
    return docs.withColumn("split", split)


def assign_splits(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment by
    content-free id hashing: bucket = first two md5 bytes of the id
    string, mod 100. Hash-based (not random) so the split is stable
    under reruns, repartitioning, and incremental corpus growth — a
    document's split never changes when other documents are added,
    which is the property leakage audits depend on.

    Output: (doc_id, bucket, split). Narrow transformation — no
    shuffle; md5 is evaluated JVM-side and matches every engine that
    speaks md5 (the oracle recomputes the same bytes in DuckDB).
    """
    bucket, split = split_exprs(id_col=id_col, val_pct=val_pct, test_pct=test_pct)
    return docs.select(
        F.col(id_col),
        bucket.alias("bucket"),
        split.alias("split"),
    )


def stratified_sample(
    docs: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_per_group: int = 25,
) -> DataFrame:
    """Deterministic per-stratum sample: the n documents per group
    with the smallest md5(id) — an unbiased, rerun-stable stand-in
    for random sampling that every engine reproduces exactly.

    Output: (group_col, doc_id, sample_rank). One shuffle on the
    group key; the window's sort is per-partition. At skew (one giant
    stratum) AQE splits the partition, and rank<=n prunes early via
    WindowGroupLimit pushdown (Spark 3.5+): executors keep only n
    rows per group during the sort instead of sorting whole strata.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        docs.select(F.col(group_col), F.col(id_col))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per_group)
        .select(group_col, id_col, F.col("sample_rank").cast("long").alias("sample_rank"))
    )


def pack_sequences(
    docs: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
) -> DataFrame:
    """Greedy sequence packing: assign documents (in id order, within
    each group) to consecutive context-window bins of at most
    ``budget`` whitespace tokens — how training pipelines batch
    variable-length documents into fixed-length sequences. A document
    longer than the budget gets a bin of its own (overflowing alone,
    never splitting).

    Output: (group_col, doc_id, n_tokens, bin_id), bin ids dense from
    0 per group.

    Scale shape: token counts are computed JVM-side; only (group, id,
    count) triples — not text — reach the per-group Python stage. The
    greedy scan is a prefix-dependent recurrence, inherently
    sequential per group, so applyInPandas is the honest minimal
    Python surface: O(docs-per-group) ints in memory, no quadratic
    work. For unbounded groups at corpus scale, pre-shard the group
    key (e.g. group on (source, date) or a hash bucket) — packing
    quality is unaffected because bins never cross groups anyway.
    """
    toks = docs.select(
        F.col(group_col),
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("n_tokens"),
    )

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        acc = 0
        b = 0
        for n in pdf["n_tokens"]:
            if acc and acc + n > budget:
                b += 1
                acc = 0
            acc += n
            bins.append(b)
        pdf["bin_id"] = bins
        return pdf

    schema = f"{group_col} string, {id_col} long, n_tokens long, bin_id long"
    return toks.groupBy(group_col).applyInPandas(pack, schema)


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    clusters_df: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution with QUALITY-aware canonical
    selection: resolve near-dup pairs into clusters (connected
    components), then keep the highest-quality member of each cluster
    (ties break to the smallest id) — 'dedup keeps the best copy',
    not just the first one seen.

    Output: one row per cluster — (cluster_id, doc_id, quality_score,
    n_members).

    Scale shape: quality is an inline column expression (no extra
    pass over text); the argmax is a row_number window on the cluster
    key with group-limit pushdown, shuffling only (cluster, id, score)
    triples.

    ``clusters_df`` injects a precomputed ``dup_clusters(docs, pairs)``
    frame (e.g. a family-shared subtree also feeding the plain
    clusters query) — the CC fixpoint is the expensive stage here, and
    a host running several cluster consumers in one pass pays it once.
    """
    from pyspark.sql import Window

    from streaming_ecom_analytics_spark.functions import text as text_fns
    from streaming_ecom_analytics_spark.functions.dedup import dup_clusters

    clusters = (
        dup_clusters(docs, pairs, id_col=id_col)
        if clusters_df is None
        else clusters_df
    )
    scored = docs.select(
        F.col(id_col), text_fns.quality_score_col(text_col).alias("quality_score")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col(id_col).asc()
    )
    return (
        clusters.join(scored, on=id_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .where(F.col("__rn") == 1)
        .select(
            "cluster_id",
            id_col,
            "quality_score",
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    *,
    weight_col,
    id_col: str = "doc_id",
    n_per_group: int = 30,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirtsis A-ES),
    deterministic and engine-reproducible.

    Each row draws a pseudo-uniform u ∈ (0, 1] from md5(id) — the same
    32 hex-derived bits on any engine — and ranks by ln(u)/w (the A-ES
    key: selecting the top-n by u^(1/w) ⇔ by ln(u)/w since ln u ≤ 0).
    The chance of selection is proportional to weight, the draw is
    rerun-stable (no RNG state), and the whole thing is built-in column
    expressions.

    This is the domain-mixture op of a training-data pipeline: weight
    documents by quality/length/source priors and draw a fixed-size
    mixture per language or per domain. One shuffle on the group key
    (or one TakeOrderedAndProject when ungrouped); WindowGroupLimit
    keeps only n rows per group during the sort.
    """
    from pyspark.sql import Window

    # u in (0,1]: 32 bits of md5 + 1, over 2^32 — never 0, so ln is finite
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    if not group_cols:
        # global sample: orderBy+limit fuses to TakeOrderedAndProject —
        # no single-partition window, no full sort materialization
        return docs.orderBy(key.desc(), F.col(id_col).asc()).limit(n_per_group)
    w = Window.partitionBy(*group_cols).orderBy(key.desc(), F.col(id_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def domain_mixture_weights(
    docs: DataFrame,
    *,
    domain_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled domain mixture weights (the multinomial
    alpha-sampling rule of multilingual/multi-domain pretraining,
    e.g. mC4/XLM-R): sample domain d with probability proportional to
    p_d^alpha, where p_d is the domain's token share. alpha < 1
    up-weights small domains; alpha = 1 is natural sampling.

    Output per domain: n_docs, n_tokens, token_share, weight (the
    normalized sampling probability), boost (weight / natural share —
    > 1 means over-sampled vs natural).

    Scale shape: one corpus-wide agg to domain grain, then a broadcast
    scalar join for the normalizers — domain cardinality is tiny, so
    the post-agg crossJoin is O(#domains), never a data-volume join.
    """
    n_tokens = F.size(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"))
    per = docs.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens.cast("long")).alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_tokens").cast("double").alias("tot_tokens"),
    )
    shared = per.crossJoin(F.broadcast(totals)).withColumn(
        "token_share", F.col("n_tokens") / F.col("tot_tokens")
    )
    powed = shared.withColumn("w_raw", F.pow(F.col("token_share"), F.lit(alpha)))
    norm = powed.agg(F.sum("w_raw").alias("z"))
    return (
        powed.crossJoin(F.broadcast(norm))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.round("token_share", 6).alias("token_share"),
            F.round(F.col("w_raw") / F.col("z"), 6).alias("weight"),
            F.round((F.col("w_raw") / F.col("z")) / F.col("token_share"), 6).alias(
                "boost"
            ),
        )
    )


def streaming_curation(
    docs: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "arrival_ts",
    min_quality: float = 0.5,
    keep_langs: tuple[str, ...] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """The streaming INGESTION half of corpus curation: stateless
    quality/language gates plus content-hash exact dedup within the
    watermark horizon — everything that can be decided per-document at
    arrival time. Works identically on batch frames (the oracle twin
    runs the same plan without the watermark).

    The near-dup (MinHash) and cross-document stages stay batch-side by
    design: LSH banding needs corpus-wide candidate joins that
    streaming state can't bound, so the lambda split is gates+exact
    dedup at ingest, full near-dup curation in the nightly batch —
    same split as exact-vs-HLL distinct counts.

    Adds __content_hash (md5 of the text) used as the dedup key, so
    bit-identical re-crawls of the same document are dropped even when
    their doc_ids differ.
    """
    gated = docs.filter(text.quality_score_col(text_col) >= min_quality)
    if keep_langs is not None:
        gated = gated.filter(F.col("lang").isin(*keep_langs))
    hashed = gated.withColumn("__content_hash", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
    if docs.isStreaming:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__content_hash"]
        )
    # batch twin: keep the LOWEST doc_id per content hash — the
    # deterministic stand-in for streaming's first-arrival-wins (ids
    # are arrival-ordered in the lake), which is what lets the twin
    # carry a value-level SQL oracle instead of an arbitrary-row
    # dropDuplicates
    from pyspark.sql import Window

    w = Window.partitionBy("__content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def quality_classifier_eval(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_threshold: float = 0.5,
    min_accuracy: float = 0.85,
) -> DataFrame:
    """Train a DISTRIBUTED quality classifier (Spark ML logistic
    regression over the doc-stats features) to distill the heuristic
    quality score into a learned filter — the fastText-style quality
    model every large-corpus curation pipeline ends up training.

    - Teacher label: quality_score ≥ threshold (the heuristic is
      piecewise-linear in the features, so a linear model must
      separate it well — making held-out accuracy a real contract).
    - Split: the md5-bucket assign_splits (engine-portable), train on
      'train', evaluate on val+test — no leakage by construction.
    - Training is Spark ML's L-BFGS — driver-coordinated
      treeAggregate rounds, executor-parallel gradient passes; the
      fit happens when the query is built, like the IVF KMeans
      quantizer.

    Output: single row (n_train, n_eval, accuracy_ok) — counts are
    exactly oracle-checkable (the split is deterministic), accuracy
    is a contract bound (model weights are float-order sensitive;
    the bound is robust).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from streaming_ecom_analytics_spark.caching import persist_tracked

    stats = text.doc_stats(docs, text_col=text_col, id_col=id_col)
    feats = (
        stats.join(
            docs.select(
                F.col(id_col),
                (text.quality_score_col(text_col) >= label_threshold)
                .cast("double")
                .alias("label"),
            ),
            on=id_col,
        )
        .join(assign_splits(docs, id_col=id_col), on=id_col)
        .select(
            id_col,
            "split",
            "label",
            F.col("n_chars").cast("double").alias("f_chars"),
            F.col("n_tokens").cast("double").alias("f_tokens"),
            F.coalesce("avg_token_len", F.lit(0.0)).alias("f_tok_len"),
            F.coalesce("stopword_ratio", F.lit(0.0)).alias("f_stop"),
            F.coalesce("punct_ratio", F.lit(0.0)).alias("f_punct"),
        )
    )
    # The feature frame feeds FOUR executions (the L-BFGS fit's
    # internal passes read `train`, plus n_train, the held-out scoring,
    # and its count) — each was re-running the doc-stats + label +
    # split three-way join. One tracked persist (round-11, guide §5:
    # cache only what is reused and expensive to recompute).
    feats = persist_tracked(feats)
    assembler = VectorAssembler(
        inputCols=["f_chars", "f_tokens", "f_tok_len", "f_stop", "f_punct"],
        outputCol="features",
    )
    train = assembler.transform(feats.filter(F.col("split") == "train"))
    hold = assembler.transform(feats.filter(F.col("split") != "train"))
    model = LogisticRegression(maxIter=25, regParam=0.0).fit(train)
    scored = model.transform(hold)
    n_train = train.select(F.count("*").alias("n_train"))
    return (
        scored.agg(
            F.count("*").alias("n_eval"),
            F.avg((F.col("prediction") == F.col("label")).cast("double")).alias(
                "__acc"
            ),
        )
        .crossJoin(F.broadcast(n_train))
        .select(
            "n_train",
            "n_eval",
            (F.col("__acc") >= F.lit(min_accuracy)).alias("accuracy_ok"),
        )
    )


def curriculum_schedule(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic quality-curriculum export: rank the corpus by the
    composite quality heuristic (best first, id tiebreak), cut the
    ranking into ``n_buckets`` NTILE bands, and emit the round-robin
    interleave key a curriculum loader sorts by — each training cycle
    sees one document from every quality band, best-of-band first
    (Bengio et al. 2009's easy-to-hard schedule, flattened so no band
    starves).

    Scale shape: the global ranking comes from
    :func:`operators.prefix.global_rank` (range-repartition + bounded
    offset pass) — NEVER a corpus-sized single-partition window — and
    the NTILE band is then pure arithmetic on (rank, corpus size):
    with t rows and n buckets, the first t % n bands hold
    ceil(t/n) rows (the SQL NTILE contract, mirrored exactly by the
    registered DuckDB oracle). The corpus-size scalar rides a
    broadcast crossJoin of a one-row aggregate; ``pos_in_bucket`` and
    the interleave key are arithmetic on the same rank, so the whole
    schedule costs one distributed sort + one count — no second
    ranking pass.

    Output: (doc_id, quality_score, curriculum_rank, bucket 1-based,
    pos_in_bucket 1-based, interleave_key) — ORDER BY interleave_key
    is the training order.
    """
    from streaming_ecom_analytics_spark.operators.prefix import global_rank

    q = docs.select(
        F.col(id_col), text.quality_score_col(text_col).alias("quality_score")
    )
    ranked = global_rank(
        q,
        order_cols=[F.col("quality_score").desc(), F.col(id_col).asc()],
        out_col="curriculum_rank",
        num_partitions=num_partitions,
    )
    total = ranked.groupBy().agg(F.count("*").alias("__t"))
    r = ranked.crossJoin(F.broadcast(total))
    qsize = F.floor(F.col("__t") / n_buckets).cast("long")
    rem = (F.col("__t") % n_buckets).cast("long")
    idx = (F.col("curriculum_rank") - 1).cast("long")
    big = (qsize + 1) * rem  # rows covered by the size-(qsize+1) bands
    # guard divisor: when t < n_buckets, qsize = 0 but every idx < big,
    # so the otherwise-branch is never selected — greatest() keeps the
    # unevaluated branch from dividing by zero under ANSI semantics
    safe_q = F.greatest(qsize, F.lit(1))
    bucket = (
        F.when(idx < big, F.floor(idx / (qsize + 1)))
        .otherwise(rem + F.floor((idx - big) / safe_q))
        .cast("long")
        + 1
    )
    pos_in_bucket = (
        F.when(idx < big, idx % (qsize + 1)).otherwise((idx - big) % safe_q)
    ).cast("long") + 1
    return r.select(
        id_col,
        "quality_score",
        "curriculum_rank",
        bucket.alias("bucket"),
        pos_in_bucket.alias("pos_in_bucket"),
        ((pos_in_bucket - 1) * n_buckets + (bucket - 1)).alias("interleave_key"),
    )
