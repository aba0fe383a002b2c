"""Versioned parquet tables: snapshot commits, time travel, append
without rewrite, isolation of historical reads from later overwrites,
and vacuum retention."""

from __future__ import annotations

import os

import pytest

from streaming_ecom_analytics_spark.sources.versioned_lake import VersionedTable

# Deep tier (round-11 verdict #2: the default suite must fit its time
# budget — a 24-micro-batch soak costs minutes of streaming-engine
# fixed cost). The fast materializer test below covers
# the same operator per-commit; the soak adds restart + vacuum
# endurance and runs once per round via round_close_chain.sh
# (SPARK_GRAFT_DEEP_TESTS=1).
deep_tier = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_DEEP_TESTS"),
    reason="deep tier: set SPARK_GRAFT_DEEP_TESTS=1 (round close runs it)",
)


@pytest.fixture()
def table(tmp_path):
    return VersionedTable(str(tmp_path / "tbl"))


def _df(spark, values):
    return spark.createDataFrame([(i, v) for i, v in enumerate(values)], "id long, v string")


def test_commit_read_time_travel(spark, table):
    v0 = table.commit(_df(spark, ["a", "b"]), message="first")
    v1 = table.commit(_df(spark, ["c"]), message="overwrite")
    assert (v0, v1) == (0, 1)
    assert sorted(r.v for r in table.read(spark).collect()) == ["c"]
    assert sorted(r.v for r in table.read(spark, version=0).collect()) == ["a", "b"]
    hist = table.history()
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[1]["message"] == "overwrite"


def test_append_reuses_files_no_rewrite(spark, table):
    table.commit(_df(spark, ["a"]))
    files_v0 = set(table.manifest(0)["files"])
    table.commit(_df(spark, ["b"]), mode="append")
    files_v1 = set(table.manifest(1)["files"])
    assert files_v0 < files_v1  # old files referenced verbatim, not rewritten
    assert sorted(r.v for r in table.read(spark).collect()) == ["a", "b"]


def test_overwrite_does_not_disturb_old_snapshot(spark, table):
    table.commit(_df(spark, ["a", "b"]))
    old = table.read(spark, version=0)
    table.commit(_df(spark, ["z"]))
    # the historical frame still resolves to the immutable v0 files
    assert sorted(r.v for r in old.collect()) == ["a", "b"]


def test_vacuum_drops_unreferenced_files(spark, table):
    for vals in (["a"], ["b"], ["c"]):
        table.commit(_df(spark, vals))
    removed = table.vacuum(keep_last=2, grace_seconds=0)
    assert removed  # v0's files gone
    assert table.versions() == [1, 2]
    assert sorted(r.v for r in table.read(spark, version=1).collect()) == ["b"]
    with pytest.raises(FileNotFoundError):
        table.manifest(0)
    for p in removed:
        assert not os.path.exists(p)


def test_compact_reduces_files_preserves_content_and_history(spark, table):
    """Ten single-row appends → ten+ small files; compact() commits a
    content-identical snapshot in one file, prior versions still
    time-travel, and a later vacuum retires the small files."""
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        table.compact(spark)
    for i in range(10):
        table.commit(_df(spark, [f"r{i}"]), mode="append")
    before = table.manifest(table.latest_version())["files"]
    assert len(before) >= 10
    v = table.compact(spark, target_files=1)
    after = table.manifest(v)["files"]
    assert len(after) == 1
    assert sorted(r.v for r in table.read(spark).collect()) == sorted(
        f"r{i}" for i in range(10)
    )
    # time travel to the pre-compact version still works
    assert len(table.read(spark, version=v - 1).collect()) == 10
    removed = table.vacuum(keep_last=1, grace_seconds=0)
    assert set(before) <= set(removed)  # small files gone, compact file kept
    assert sorted(r.v for r in table.read(spark).collect()) == sorted(
        f"r{i}" for i in range(10)
    )


def test_stale_snapshot_commit_fails_loudly(spark, table):
    """Optimistic concurrency (r5 advisor finding): a commit derived
    from snapshot N must raise if another commit landed in between —
    never silently clobber it. The compact() path passes the snapshot
    it read, so a racing append makes compaction fail loudly and the
    append survives."""
    from streaming_ecom_analytics_spark.sources.versioned_lake import (
        ConcurrentCommitError,
    )

    table.commit(_df(spark, ["a"]))
    derived = table.read(spark, version=0)  # maintenance job reads v0
    table.commit(_df(spark, ["b"]), mode="append")  # ingest lands v1
    with pytest.raises(ConcurrentCommitError, match="latest is now 1"):
        table.commit(derived, mode="overwrite", expect_version=0)
    # the interleaved append is intact; default "any" still commits
    assert sorted(r.v for r in table.read(spark).collect()) == ["a", "b"]
    assert table.commit(derived, mode="overwrite") == 2


def test_commit_expect_version_matching_passes(spark, table):
    table.commit(_df(spark, ["a"]))
    v = table.compact(spark)  # no interleaved writer: succeeds
    assert v == 1
    assert sorted(r.v for r in table.read(spark).collect()) == ["a"]


def test_read_empty_table_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.read(spark)


def test_rejects_unknown_mode(spark, table):
    with pytest.raises(ValueError, match="overwrite|append"):
        table.commit(_df(spark, ["a"]), mode="merge")


def test_cdc_upsert_materializer_stream(spark, tmp_path):
    """A change stream (insert, update, delete across micro-batches)
    maintained as a versioned snapshot: the final table equals the
    net-effect of all changes, every intermediate state is
    time-travelable, and a delete actually removes the row."""
    from streaming_ecom_analytics_spark.streaming.materialize import (
        cdc_upsert_materializer,
    )

    schema = "id long, name string, op string, seq long"
    batches = [
        [(1, "alice", "U", 1), (2, "bob", "U", 2)],
        [(1, "alicia", "U", 3), (3, "carol", "U", 4)],
        [(2, None, "D", 5)],
    ]
    src = tmp_path / "changes"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"batch_{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(
            cdc_upsert_materializer(
                str(tmp_path / "snap"), key_cols=("id",), seq_col="seq"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    table = VersionedTable(str(tmp_path / "snap"))
    assert len(table.versions()) == 3
    final = {r.id: r.name for r in table.read(spark).collect()}
    assert final == {1: "alicia", 3: "carol"}  # bob deleted, alice updated
    v0 = {r.id: r.name for r in table.read(spark, version=0).collect()}
    assert v0 == {1: "alice", 2: "bob"}


@deep_tier
def test_cdc_materializer_soak_with_restart_and_vacuum(spark, tmp_path):
    """Long-horizon soak (round-4 verdict #7): 24 micro-batches of
    interleaved upserts, deletes, and post-delete re-inserts over a
    10-key space, with a full stop + restart from checkpoint after
    batch 12. Asserts: (1) exactly one version per micro-batch — the
    restart resumes, it does NOT reprocess; (2) the final snapshot
    equals the batch twin (latest-change-per-key, deletes dropped)
    computed over the whole change log at once; (3) vacuum(keep_last=5)
    removes old version files while the retained tail stays readable."""
    from streaming_ecom_analytics_spark.streaming.materialize import (
        cdc_upsert_materializer,
    )

    schema = "id long, name string, op string, seq long"
    n_batches, keys = 24, 10
    batches, log, seq = [], [], 0
    for b in range(n_batches):
        rows = []
        k_upd = b % keys
        seq += 1
        rows.append((k_upd, f"v{b}_{k_upd}", "U", seq))
        if b % 5 == 4:  # delete a different key every 5th batch
            k_del = (b + 3) % keys
            seq += 1
            rows.append((k_del, None, "D", seq))
        if b % 7 == 6:  # re-insert a key deleted earlier
            k_re = (b - 2 + 3) % keys
            seq += 1
            rows.append((k_re, f"back{b}_{k_re}", "U", seq))
        batches.append(rows)
        log.extend(rows)

    src = tmp_path / "changes"

    def write_batches(lo, hi):
        for i in range(lo, hi):
            spark.createDataFrame(batches[i], schema).coalesce(1).write.parquet(
                str(src / f"batch_{i:03d}"), mode="overwrite"
            )

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(
                cdc_upsert_materializer(
                    str(tmp_path / "snap"), key_cols=("id",), seq_col="seq"
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    write_batches(0, 12)
    run_stream()  # phase 1, then the query stops (availableNow)
    table = VersionedTable(str(tmp_path / "snap"))
    assert len(table.versions()) == 12
    write_batches(12, 24)
    run_stream()  # restart from checkpoint — must resume at batch 12
    assert len(table.versions()) == 24  # one commit per batch, no replay

    # batch twin: net effect of the whole change log in one pass
    latest = {}
    for k, name, op, s in log:
        latest[k] = (s, op, name)
    want = {k: v[2] for k, v in latest.items() if v[1] != "D"}
    got = {r.id: r.name for r in table.read(spark).collect()}
    assert got == want

    # intermediate state is time-travelable mid-log: version 11 equals
    # the twin over the first 12 batches
    latest12 = {}
    for k, name, op, s in [r for b in batches[:12] for r in b]:
        latest12[k] = (s, op, name)
    want12 = {k: v[2] for k, v in latest12.items() if v[1] != "D"}
    got12 = {r.id: r.name for r in table.read(spark, version=11).collect()}
    assert got12 == want12

    removed = table.vacuum(keep_last=5, grace_seconds=0)
    assert removed and table.versions() == list(range(19, 24))
    for p in removed:
        assert not os.path.exists(p)
    assert {r.id: r.name for r in table.read(spark).collect()} == want
    with pytest.raises(FileNotFoundError):
        table.manifest(11)


def test_snapshot_diff_over_time_travel(spark, tmp_path):
    """snapshot_diff across two committed versions of a VersionedTable:
    the classified changes must match what the second commit wrote."""
    from streaming_ecom_analytics_spark.operators.cdc import snapshot_diff
    from streaming_ecom_analytics_spark.sources.versioned_lake import (
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "tbl"))
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    t.commit(v1, message="v1")
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k long, v string"
    )
    t.commit(v2, message="v2")
    versions = t.versions()
    old = t.read(spark, version=versions[0])
    new = t.read(spark, version=versions[-1])
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_safety(spark):
    from streaming_ecom_analytics_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, "x")], "k long, v string")
    new = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    # NULL == NULL must read as unchanged; x -> NULL is a change
    assert got == {2: "changed"}


def test_snapshot_diff_no_sentinel_or_separator_aliasing(spark):
    """The row hash must not confuse NULL with any real value (the old
    concat coalesced NULL to a '\\x00' sentinel string) nor alias
    values shifted across column boundaries (the old '\\x1f' join
    separator). Both classes must now read as 'changed'."""
    from streaming_ecom_analytics_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, "b"), (2, "a\x1fz", "b")], "k long, v1 string, v2 string"
    )
    new = spark.createDataFrame(
        [(1, "\x00", "b"), (2, "a", "z\x1fb")], "k long, v1 string, v2 string"
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    assert got == {1: "changed", 2: "changed"}


def test_rejected_commit_cleans_up_staging(spark, table):
    """Round-6 advisor finding: a stale-snapshot rejection used to run
    AFTER the staged write and leave orphaned files. Now (a) the
    pre-check rejects before writing anything, and (b) a post-write
    rejection (simulated via a link(2) collision) removes its own
    staging prefix."""
    import os

    from streaming_ecom_analytics_spark.sources.versioned_lake import (
        ConcurrentCommitError,
    )

    table.commit(_df(spark, ["a"]))
    data_dir = os.path.join(table.path, "data")
    before = set(os.listdir(data_dir))

    # (a) pre-check path: no staging prefix is ever created
    with pytest.raises(ConcurrentCommitError):
        table.commit(_df(spark, ["b"]), expect_version=99)
    assert set(os.listdir(data_dir)) == before

    # (b) post-write link collision: staging written, then cleaned up
    real_link = os.link

    def exploding_link(src, dst, *a, **kw):
        raise FileExistsError(dst)

    os.link = exploding_link
    try:
        with pytest.raises(ConcurrentCommitError, match="cleaned up"):
            table.commit(_df(spark, ["c"]))
    finally:
        os.link = real_link
    assert set(os.listdir(data_dir)) == before
    # table still healthy: a normal commit succeeds afterwards
    assert table.commit(_df(spark, ["d"])) == 1


def test_vacuum_grace_period_protects_inflight_staging(spark, table):
    """Round-6 advisor finding: vacuum must not delete another writer's
    staged-but-uncommitted files. Round-7 advisor refinement: the
    in-flight skip must be PRECISE — only prefixes referenced by NO
    manifest at all (the in-flight signature) are age-protected.
    Round-8 advisor: freshly-RETIRED committed files get their own
    reader grace (tested separately below); with grace_seconds=0 both
    protections are off and everything unreferenced reclaims."""
    import os

    for vals in (["a"], ["b"], ["c"]):
        table.commit(_df(spark, vals))
    v0_files = table.manifest(0)["files"]
    # simulate another writer's in-flight commit: a data prefix no
    # manifest references, with a fresh mtime
    inflight_dir = os.path.join(table.path, "data", "inflightdeadbeef")
    os.makedirs(inflight_dir)
    inflight_file = os.path.join(inflight_dir, "part-00000.parquet")
    with open(inflight_file, "wb") as f:
        f.write(b"staged")
    # default grace: the young unreferenced prefix is skipped as
    # possibly in-flight; just-retired committed files wait out the
    # reader grace (their retiring manifests are seconds old)
    removed = table.vacuum(keep_last=1)
    assert not removed
    assert os.path.exists(inflight_file)
    assert sorted(r.v for r in table.read(spark).collect()) == ["c"]
    # explicit zero grace collects retired files AND orphaned staging
    removed = table.vacuum(keep_last=1, grace_seconds=0)
    assert set(v0_files) <= set(removed)
    assert inflight_file in removed
    assert not os.path.exists(inflight_file)
    assert sorted(r.v for r in table.read(spark).collect()) == ["c"]


def test_vacuum_reader_grace_for_recently_retired_versions(spark, table):
    """Round-8 advisor: a reader mid-scan of a time-travel version that
    just fell out of keep_last must not lose its files to a concurrent
    vacuum. Retirement time = mtime of the manifest whose commit pushed
    the version out; files reclaim only once that is older than
    grace_seconds (Delta's tombstone-retention rationale)."""
    import os

    for vals in (["a"], ["b"], ["c"]):
        table.commit(_df(spark, vals))
    v0_files = table.manifest(0)["files"]
    v1_files = table.manifest(1)["files"]
    # v0 was retired (under keep_last=1) when v1 committed; backdate
    # v1's manifest so v0's retirement is outside the grace window,
    # while v2's fresh manifest keeps v1's files protected
    old = 1_000_000_000
    os.utime(os.path.join(table.path, "_manifests", "v1.json"), (old, old))
    removed = table.vacuum(keep_last=1, grace_seconds=3600)
    assert set(v0_files) <= set(removed)           # past grace → reclaimed
    assert not set(v1_files) & set(removed)        # inside grace → protected
    assert all(os.path.exists(f) for f in v1_files)
    # latest version unaffected throughout
    assert sorted(r.v for r in table.read(spark).collect()) == ["c"]
    # the manifests themselves are still dropped: protection covers
    # in-flight READERS, not future time travel
    assert table.versions() == [2]
    # next vacuum past the window reclaims v1's files too
    removed = table.vacuum(keep_last=1, grace_seconds=0)
    assert set(v1_files) <= set(removed)
