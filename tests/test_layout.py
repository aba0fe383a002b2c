"""Z-order key: deterministic, bounded, and safe on a zero-span
column. The registered ``zorder_data_skipping`` report over it is
checked in test_retrieval_layout.py."""

from __future__ import annotations

from streaming_ecom_analytics_spark.operators import layout


def test_zorder_key_is_deterministic_and_bounded(spark):
    df = spark.range(1000).selectExpr("id AS a", "(999 - id) AS b")
    z1 = layout.zorder_key(df, ["a", "b"], bits=10)
    z2 = layout.zorder_key(df, ["a", "b"], bits=10)
    assert z1.select("__z").exceptAll(z2.select("__z")).count() == 0
    mx = z1.agg({"__z": "max"}).collect()[0][0]
    assert 0 <= mx < (1 << 20)


def test_zorder_constant_column_is_safe(spark):
    df = spark.range(100).selectExpr("id AS a", "42 AS b")
    out = layout.zorder_key(df, ["a", "b"], bits=8)
    assert out.count() == 100  # no divide-by-zero on zero span
