"""Round-12 registrations — APPENDED last in the registry import order.

The driver samples the FIRST 50 keys of ``queries()`` insertion order,
so new queries must never shift existing keys (round-11 verdict #6:
registering early in registry.py silently rotated the correctness
window). This module is imported after every other plans module; its
registrations land at the very end of the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_ecom_analytics_spark import catalog
from streaming_ecom_analytics_spark.functions import dedup
from streaming_ecom_analytics_spark.plans.extension_queries import (
    _hardest_negative_triplets,
    _shared_emb_pairs_ivf256,
)
from streaming_ecom_analytics_spark.plans.registry import register

_CONTRASTIVE_SCALABLE_ORACLE = """
    WITH n AS (
      SELECT CAST(ceil(CAST(COUNT(*) AS DOUBLE) / 256) AS BIGINT) AS k
      FROM embeddings
    ),
    x AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             vec_id % (SELECT k FROM n) AS blk
      FROM embeddings
    ),
    pos AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_pos
      FROM x a JOIN x b ON a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
    ),
    anchors AS (
      SELECT id_a AS anchor_id, id_b AS positive_id, cos_pos FROM pos
      UNION ALL
      SELECT id_b, id_a, cos_pos FROM pos
    ),
    cand AS (
      SELECT an.anchor_id, an.positive_id, an.cos_pos,
             c.vec_id AS negative_id,
             ROUND(list_dot_product(a.v, c.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_neg
      FROM anchors an
      JOIN x a ON a.vec_id = an.anchor_id
      JOIN x c ON c.blk = a.blk AND c.vec_id <> an.anchor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY anchor_id, positive_id
               ORDER BY cos_neg DESC, negative_id ASC) AS rn
      FROM cand WHERE cos_neg < 0.45
    )
    SELECT anchor_id, positive_id, negative_id, cos_pos, cos_neg
    FROM ranked WHERE rn = 1
"""


@register("contrastive_pairs_scalable", _CONTRASTIVE_SCALABLE_ORACLE)
def q_contrastive_pairs_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe twin of `contrastive_pairs` (round-11 verdict #3:
    the triplet miner was the only exact/approx family member without
    one — at 100 TB the exact query refuses past its 250k guard).

    Two substitutions, each with the established scalable pattern:

    - POSITIVES come from the shared IVF-join candidate set
      (`_shared_emb_pairs_ivf256` — linear n·occ·m², exact-verified),
      not the guarded quadratic block-Gram set. The recall floor is the
      SAME contract `embedding_ivf_join_recall` pins (identical shared
      frame): measured pair recall 1.0 at sf0.001/0.01/0.1 (hence
      hash-green against the exact-positives oracle), 0.99 at the 10x
      probe decade, 0.92 at 100x (RECALL ledger).
    - The hard-NEGATIVE search block is SIZE-bounded instead of
      count-bounded: `vec_id % ceil(n/256)` yields ~256-row blocks at
      every corpus size, so the negative join does anchors·256 work —
      linear in anchors — where the exact query's fixed 8 md5 blocks
      grow to corpus/8 candidates per anchor. Block identity is
      deterministic and engine-identical (dense integer ids mod a
      footer-derived count; the oracle derives the same count via
      COUNT(*)).

    The hardest negative is a PER-ANCHOR property (the positive never
    qualifies: cos_pos ≥ 0.45, candidates need cos_neg < 0.45), so the
    negative stage computes every vector's hardest-below-threshold
    block neighbor in ONE applyInArrow float64 Gram per ~256-row block
    — n·256·d flops total, corpus-linear shuffle of (id, vec) once —
    and a pairs-sized join attaches it to the anchors. A first cut
    scored anchors×block via the per-row JVM fold expression and
    measured 177 s at the 10x decade (~20 µs per fold-cosine — guide
    §4.2: hand batches to BLAS, don't fold rows); this shape runs the
    same decade in seconds.

    Output schema matches the exact miner: (anchor_id, positive_id,
    negative_id, cos_pos, cos_neg), hardest negative per (anchor,
    positive) with the same round-6-then-argmax tie rule; cosines are
    numpy float64 dots rounded to 6 dp — hash-equal to the oracle's
    list_dot_product at every shipped SF (driver_sim-verified)."""
    n_rows = catalog.parquet_num_rows(sf_dir, "embeddings")
    n_blocks = max(1, -(-n_rows // 256))  # ceil
    x = catalog.embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (F.col("vec_id") % n_blocks).alias("blk"),
    )
    return _hardest_negative_triplets(x, _shared_emb_pairs_ivf256(spark, sf_dir))


@register("corpus_signature_build", None)
def q_corpus_signature_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-snapshot signing pass, surfaced as a timed query
    (round-11 verdict #4: `near_dup_cross_corpus` reads the stored
    versioned-lake signature artifact, so the corpus-linear build cost
    appeared in NO ledger — the probe pre-builds it untimed by design,
    since it is a snapshot-CREATION cost, but amortized cost must stay
    measured, not narrated).

    Computes exactly the artifact's expressions IN-PLAN over the
    standing corpus (source = src0): k=3 shingles → 64-perm MinHash
    signatures + the xxhash64 shingle-hash verify table — and reduces
    them to a one-row digest (doc/shingle counts, bit_xor checksums
    over the signature columns and the hash table) so the bench times
    the full signing pass while the result stays tiny and
    deterministic. Rows-only contract: DuckDB has no xxhash64, so the
    value hash is pinned by the PARITY ledger rather than an oracle
    twin. Nothing is written or read from the lake here — every bench
    invocation recomputes from the parquet inputs."""
    corpus = catalog.documents(spark, sf_dir).filter(F.col("source") == "src0")
    sh = dedup.shingles(corpus, k=3)
    sigs = dedup.minhash_signatures(sh, id_col="doc_id", num_perm=64)
    sig_digest = sigs.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_sh").alias("n_shingles"),
        F.expr("bit_xor(mh_0)").alias("sig_x0"),
        F.expr("bit_xor(mh_31)").alias("sig_x31"),
        F.expr("bit_xor(mh_63)").alias("sig_x63"),
    )
    hash_digest = sh.select(
        F.xxhash64("doc_id", "shingle").alias("h")
    ).agg(
        F.expr("bit_xor(h)").alias("shash_xor"),
        F.count("*").alias("n_hash_rows"),
    )
    return sig_digest.crossJoin(hash_digest)
