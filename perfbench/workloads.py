"""The four workloads. Each takes a :class:`Ctx` (live session, seed, run
length, tracer) and returns an :class:`Outcome`: set-up time, the
per-operation latency samples and counts of the timed region, the output
check tally, and — in a traced run — the per-layer metrics.

Untraced runs call the engine exactly as a user would. Traced runs add
spans around the same calls (see spans.py) and pair every traced
operation with an untraced one, so ``trace.overhead_frac`` is measured in
the same run.
"""

from __future__ import annotations

import ctypes
import gc
import json
import os
import random
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import querysets
from stats import backlog_at_starts, file_batches, percentile, progress_batches, union_seconds
from spans import SparkJobs, Tracer, now

from streaming_ecom_analytics_spark import catalog
from streaming_ecom_analytics_spark.caching import release_shared, release_tracked
from streaming_ecom_analytics_spark.plans import REGISTRY
from streaming_ecom_analytics_spark.schema import TESTDATA_EVENT_SCHEMA, TESTDATA_TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
from driver_sim import value_hash  # noqa: E402

# pipeline_cycle input: days × rows per day of reference CSV. 66.7k rows a
# day keeps the per-day 10k sample at 15% of the rows, as at full scale.
# The warm-up cycle runs the same plans on a one-day, 5k-row CSV.
CSV_DAYS, CSV_ROWS_PER_DAY, DAILY_SAMPLE_N = 2, 66_667, 10_000
WARM_CSV_DAYS, WARM_CSV_ROWS_PER_DAY = 1, 5_000
# stream_freshness input: one sf0.1 calendar day of events per file; the
# first files are landed at once, untimed, as the warm-up.
STREAM_ROWS_PER_DAY, STREAM_USERS, STREAM_INTERVAL_S, STREAM_WARM_FILES = 3_333, 1_500, 2.0, 2

# A closed loop does a fixed number of passes (or cycles): --seconds divided
# by the nominal length of one on a 4-core host, at least one. A fixed count
# keeps the sample count, and so the metrics, independent of how fast the
# first pass happened to run.
NOMINAL_S = {"olap_floor": 4.0, "corpus_heavy": 6.5, "pipeline_cycle": 6.0}


def _reps(ctx: "Ctx", workload: str) -> int:
    return max(1, round(ctx.seconds / NOMINAL_S[workload]))


# Rows-only queries have no SQL twin; each timed one is checked against a
# row count pinned as a function of the generated tables.
PINNED_ROWS = {
    "doc_compression_ratio": lambda data: pq.ParquetFile(f"{data}/documents.parquet").metadata.num_rows,
}

CATALOG_READERS = (
    "load_table", "load_dim", "events", "documents", "embeddings",
    "parquet_num_rows", "spread_small_scan", "dim_hint", "broadcast_threshold_bytes",
)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    t0: float  # perf_counter() when the run started
    tracer: Tracer = None
    jobs: SparkJobs = None
    stamp_path: str = ""
    stamps: list = field(default_factory=list)
    rss: dict = field(default_factory=dict)

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def stamp(self) -> None:
        """Record hostprobe.quick_stamp's two measures, with the parquet
        scan pointed at a file inside the checkout. Workloads stamp right
        after set-up; the runner stamps again after the workload."""
        from streaming_ecom_analytics_spark import hostprobe

        self.stamps.append({
            "gemm_gflops": hostprobe.blas_gflops(n=1024, reps=2),
            "io_mrows_s": hostprobe.io_scan_mrows_s(self.spark, path=self.stamp_path, reps=2),
        })

    def _rss_pids(self) -> dict:
        return {"python_mb": "self", "jvm_mb": self.spark._jvm.java.lang.ProcessHandle.current().pid()}

    def rss_start(self) -> None:
        """Open the region that peak RSS covers, the timed region: record
        each process's peak so far (set-up, input generation, warm-up and
        its checks), then reset its VmHWM to its current RSS. Memory the
        harness freed is handed back to the OS first (pyarrow's pool and
        the C heap), so that the Python side's set-up residue does not
        count."""
        gc.collect()
        pa.default_memory_pool().release_unused()
        ctypes.CDLL(None).malloc_trim(0)
        for key, pid in self._rss_pids().items():
            self.rss[f"setup_{key}"] = _vm_hwm_mb(pid)
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def rss_stop(self) -> None:
        """Close the region: each process's VmHWM since :meth:`rss_start`.
        Workloads call it before their output checks."""
        for key, pid in self._rss_pids().items():
            self.rss[key] = _vm_hwm_mb(pid)


@dataclass
class Outcome:
    setup_s: float
    latencies: list[float]
    ops: int
    wall_s: float
    attempted: int
    failed: int
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    total = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def _overhead(pairs: list[tuple[float, float]]) -> float:
    """(traced, untraced) wall pairs → traced ÷ untraced − 1."""
    untraced = sum(u for _, u in pairs)
    return sum(t for t, _ in pairs) / untraced - 1.0 if untraced else 0.0


# --------------------------------------------------------------------------
# query workloads: olap_floor, corpus_heavy
# --------------------------------------------------------------------------


class _CatalogTimer:
    """Times catalog's public readers while installed, counting only the
    outermost call (readers call each other)."""

    def __init__(self, tracer: Tracer):
        self.tracer, self.depth, self.calls, self.seconds = tracer, 0, 0, 0.0
        self.orig = {n: getattr(catalog, n) for n in CATALOG_READERS}

    def _wrap(self, name, fn):
        def timed(*a, **kw):
            if self.depth:
                return fn(*a, **kw)
            self.depth += 1
            try:
                with self.tracer.span(f"catalog.{name}") as sp:
                    return fn(*a, **kw)
            finally:
                self.depth -= 1
                self.calls += 1
                self.seconds += sp["end"] - sp["start"]
        return timed

    def __enter__(self):
        for n, fn in self.orig.items():
            setattr(catalog, n, self._wrap(n, fn))
        return self

    def __exit__(self, *exc):
        for n, fn in self.orig.items():
            setattr(catalog, n, fn)


def _oracle(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _check_query(name: str, pdf, con, data_dir: str) -> str | None:
    """None when the result matches its DuckDB twin (or pinned row
    count); otherwise a one-line reason."""
    oracle = REGISTRY[name].oracle
    if oracle is None:
        want = PINNED_ROWS[name](data_dir)
        return None if len(pdf) == want else f"rows {len(pdf)} != pinned {want}"
    opdf = con.sql(oracle).df()
    if sorted(pdf.columns) != sorted(opdf.columns):
        return f"columns {sorted(pdf.columns)} != {sorted(opdf.columns)}"
    if len(pdf) != len(opdf):
        return f"rows {len(pdf)} != oracle {len(opdf)}"
    sh, oh = value_hash(pdf), value_hash(opdf)
    return None if sh == oh else f"hash {sh} != oracle {oh}"


def _query_workload(ctx: Ctx, names: tuple[str, ...], scale: str, passes: int) -> Outcome:
    spark = ctx.spark
    data = os.path.join(ctx.work, scale)
    datagen.write_tables(data, ctx.seed, scale)
    order = list(names)
    random.Random(ctx.seed).shuffle(order)

    # Untimed warm-up: one pass over the timed queries that also checks
    # each result against its oracle (the check time is not set-up).
    con, check_s, bad = _oracle(data), 0.0, {}
    for name in order:
        try:
            pdf = REGISTRY[name].fn(spark, data).toPandas()
        except Exception as exc:  # counted, never fatal
            bad[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            continue
        finally:
            release_tracked()
        t = time.perf_counter()
        reason = _check_query(name, pdf, con, data)
        check_s += time.perf_counter() - t
        if reason:
            bad[name] = reason
    con.close()
    release_shared()
    for name, reason in bad.items():
        ctx.log(f"CHECK FAILED {name}: {reason}")
    setup_s = time.perf_counter() - ctx.t0 - check_s
    ctx.stamp()
    ctx.rss_start()

    def run(name: str) -> float:
        t = time.perf_counter()
        REGISTRY[name].fn(spark, data).write.format("noop").mode("overwrite").save()
        release_tracked()
        return time.perf_counter() - t

    # Closed loop, one client, whole passes: every timed query gets the
    # same number of samples.
    latencies, failed, attempted, pairs, traced, per_query = [], 0, 0, [], [], {}
    start = time.perf_counter()
    i = 0
    for _ in range(passes):
        for name in order:
            attempted += 1
            try:
                if not ctx.trace:
                    latencies.append(run(name))
                    per_query.setdefault(name, []).append(latencies[-1])
                else:
                    # traced and untraced executions alternate which goes first
                    first_traced = i % 2 == 0
                    u = None if first_traced else run(name)
                    rec = _traced_query(ctx, name, data, f"q{i}")
                    u = run(name) if first_traced else u
                    traced.append(rec)
                    pairs.append((rec["wall"], u))
                    latencies.append(rec["wall"])
                failed += name in bad
            except Exception as exc:
                failed += 1
                ctx.log(f"FAILED {name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
            i += 1
        # family-shared subtrees live across queries; release them at the
        # end of each pass, as bench.py does, so each pass pays each build
        t = time.perf_counter()
        n = release_shared()
        if traced:
            traced[-1]["release_s"] += time.perf_counter() - t
            traced[-1]["shared_released"] += n
    wall = time.perf_counter() - start
    ctx.rss_stop()

    out = Outcome(setup_s, latencies, len(latencies), wall, attempted, failed)
    out.detail = {
        "check_failures": bad,
        "per_query_s": {n: [round(x, 3) for x in xs] for n, xs in per_query.items()},
    }
    if ctx.trace:
        out.layers = _query_layers(traced, ctx.jobs.cores)
        out.layers["trace.overhead_frac"] = _overhead(pairs)
        out.detail["span_cover_err_max"] = max(
            (abs(r["wall"] - r["children"]) / r["wall"] for r in traced), default=0.0
        )
    return out


def _traced_query(ctx: Ctx, name: str, data: str, tid: str) -> dict:
    tr, jobs = ctx.tracer, ctx.jobs
    jobs.label(tid)
    with _CatalogTimer(tr) as cat, tr.span("query", trace=tid, query=name) as op:
        with tr.span("plans.build") as build:
            df = REGISTRY[name].fn(ctx.spark, data)
        with tr.span("execute") as execute:
            df.write.format("noop").mode("overwrite").save()
        with tr.span("caching.release") as rel:
            tracked = release_tracked()
    m = jobs.collect(tid)
    for s, e in m["job_intervals"]:
        tr.add("spark.job", s, e, parent=execute if s >= build["end"] else build)
    build_s = build["end"] - build["start"]
    release_s = rel["end"] - rel["start"]
    wall = op["end"] - op["start"]
    after_build = [(max(s, build["end"]), min(e, execute["end"])) for s, e in m["job_intervals"]]
    exec_jobs_s = union_seconds([(s, e) for s, e in after_build if e > s])
    return {
        **m,
        "wall": wall,
        "children": build_s + (execute["end"] - execute["start"]) + release_s,
        "build_s": build_s,
        "build_jobs": sum(1 for s, _ in m["job_intervals"] if s < build["end"]),
        "catalog_calls": cat.calls,
        "catalog_s": cat.seconds,
        "release_s": release_s,
        "tracked_released": tracked,
        "shared_released": 0,
        "gap_s": wall - build_s - exec_jobs_s - release_s,
    }


SPARK_KEYS = ("jobs", "stages", "tasks", "job_s", "exec_run_s", "exec_cpu_s", "gc_s",
              "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def _spark_layers(recs: list[dict], cores: int) -> dict:
    """Per-operation means of the Spark metrics and the driver gap."""
    job_s = sum(r["job_s"] for r in recs)
    out = {f"spark.{k}": _mean(r[k] for r in recs) for k in SPARK_KEYS}
    out["spark.core_util"] = sum(r["exec_run_s"] for r in recs) / (job_s * cores) if job_s else 0.0
    out["driver.gap_s"] = _mean(r["gap_s"] for r in recs)
    return out


def _query_layers(recs: list[dict], cores: int) -> dict:
    """Per-query means of the traced queries' layer numbers."""
    keys = {
        "plans.build_s": "build_s", "plans.build_jobs": "build_jobs",
        "catalog.calls": "catalog_calls", "catalog.s": "catalog_s",
        "caching.release_s": "release_s", "caching.tracked_released": "tracked_released",
        "caching.shared_released": "shared_released",
    }
    return {**{k: _mean(r[v] for r in recs) for k, v in keys.items()}, **_spark_layers(recs, cores)}


def olap_floor(ctx: Ctx) -> Outcome:
    return _query_workload(ctx, querysets.resolve(querysets.OLAP_TIMED, REGISTRY), "sf0.01",
                           _reps(ctx, "olap_floor"))


def corpus_heavy(ctx: Ctx) -> Outcome:
    return _query_workload(ctx, querysets.resolve(querysets.CORPUS_TIMED, REGISTRY), "sf0.1",
                           _reps(ctx, "corpus_heavy"))


# --------------------------------------------------------------------------
# pipeline_cycle: runner.run_batch_cycle, the paper's DAG
# --------------------------------------------------------------------------


def _check_cycle(result: dict, lake_root: str, expected_events: int) -> str | None:
    if result["failed"]:
        return f"failed views {result['failed']}"
    if result["ingest"].total_events != expected_events:
        return f"total_events {result['ingest'].total_events} != {expected_events}"
    con = duckdb.connect()
    raw = f"{lake_root}/raw/events/*/*.parquet"
    want = con.sql(
        f"SELECT CAST(CAST(event_time AS DATE) AS VARCHAR) AS d, ROUND(SUM(price), 2) AS r "
        f"FROM read_parquet('{raw}', hive_partitioning = true) "
        f"WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    got = con.sql(
        f"SELECT CAST(CAST(event_date AS DATE) AS VARCHAR), total_revenue "
        f"FROM '{lake_root}/reporting/daily_revenue/*.parquet' ORDER BY 1"
    ).fetchall()
    return None if got == want else f"daily_revenue {got[:3]}... != duckdb {want[:3]}..."


def _traced_cycle(ctx: Ctx, lake, csv_path: str, tid: str) -> tuple[dict, dict]:
    """run_batch_cycle's body, stage for stage, with a span and a job
    group around each stage."""
    from streaming_ecom_analytics_spark.operators import validation
    from streaming_ecom_analytics_spark.operators.ingest import ingest_events, read_raw_csv
    from streaming_ecom_analytics_spark.runner import REPORTING_VIEWS
    from streaming_ecom_analytics_spark.sources.kafka_contract import serialize_events

    tr, jobs, spark = ctx.tracer, ctx.jobs, ctx.spark
    stage_s, groups = {}, []

    def stage(name):
        groups.append(f"{tid}:{name}")
        jobs.label(groups[-1])
        return tr.span(name)

    with tr.span("cycle", trace=tid) as op:
        with stage("ingest") as sp:
            raw = read_raw_csv(spark, csv_path)
            stats = ingest_events(spark, raw, lake, daily_sample_n=DAILY_SAMPLE_N)
            events = lake.read(spark, "raw", "events")
        stage_s["ingest"] = sp["end"] - sp["start"]
        with stage("publish") as sp:
            if not events.isEmpty():
                lake.write(serialize_events(events.drop("event_date")), "processed", "events_wire")
        stage_s["publish"] = sp["end"] - sp["start"]
        with stage("validation") as sp:
            quality = validation.validate_events(
                events,
                key_cols=("product_id", "category_id", "event_time", "user_id"),
                ts_col="event_time",
            ).first()
        stage_s["validation"] = sp["end"] - sp["start"]
        refreshed, failed = [], []
        with tr.span("materialize") as mat:
            for name, build in REPORTING_VIEWS.items():
                with stage(f"materialize.{name}") as sp:
                    try:
                        lake.refresh(build(events), name)
                        refreshed.append(name)
                    except Exception:
                        failed.append(name)
                stage_s[f"materialize.{name}"] = sp["end"] - sp["start"]
        stage_s["materialize"] = mat["end"] - mat["start"]
    result = {"ingest": stats, "quality": quality.asDict(), "refreshed": refreshed, "failed": failed}
    spark_m = [jobs.collect(g) for g in groups]
    for m in spark_m:
        for s, e in m["job_intervals"]:
            tr.add("spark.job", s, e, parent=op)
    rec = {"wall": op["end"] - op["start"], "stage_s": stage_s}
    rec.update({k: sum(m[k] for m in spark_m) for k in SPARK_KEYS})
    rec["gap_s"] = rec["wall"] - rec["job_s"]
    return result, rec


def pipeline_cycle(ctx: Ctx) -> Outcome:
    from streaming_ecom_analytics_spark.runner import REPORTING_VIEWS, run_batch_cycle
    from streaming_ecom_analytics_spark.sources.lake import Lake

    spark = ctx.spark
    csv_path = os.path.join(ctx.work, "events.csv")
    day_rows = datagen.write_reference_csv(csv_path, ctx.seed, CSV_DAYS, CSV_ROWS_PER_DAY)
    csv_rows, csv_bytes = sum(day_rows), os.path.getsize(csv_path)
    warm_csv = os.path.join(ctx.work, "warm.csv")
    warm_rows = datagen.write_reference_csv(warm_csv, ctx.seed + 1, WARM_CSV_DAYS, WARM_CSV_ROWS_PER_DAY)

    def expected(rows: list[int]) -> int:
        return sum(min(r, DAILY_SAMPLE_N) for r in rows)

    def cycle(k: int, path: str = csv_path):
        root = os.path.join(ctx.work, f"lake{k}")
        t = time.perf_counter()
        result = run_batch_cycle(spark, Lake(root), csv_path=path)
        return root, result, time.perf_counter() - t

    # untimed warm-up on the small CSV; checked like the timed cycles (the
    # check time is not set-up)
    warm_root, warm_result, _ = cycle(-1, warm_csv)
    t = time.perf_counter()
    reason = _check_cycle(warm_result, warm_root, expected(warm_rows))
    check_s = time.perf_counter() - t
    if reason:
        ctx.log(f"CHECK FAILED warm-up cycle: {reason}")
    shutil.rmtree(warm_root, ignore_errors=True)
    setup_s = time.perf_counter() - ctx.t0 - check_s
    ctx.stamp()
    ctx.rss_start()

    # Closed loop of cycles, one caller. A traced run makes at least two
    # traced/untraced pairs, so that each side goes first once.
    runs, pairs, traced = [], [], []
    n_cycles = max(_reps(ctx, "pipeline_cycle"), 2 if ctx.trace else 1)
    start = time.perf_counter()
    for k in range(n_cycles):
        if ctx.trace:
            first_traced = k % 2 == 0
            u = None if first_traced else cycle(2 * k + 1)
            root = os.path.join(ctx.work, f"lake{2 * k}")
            result, rec = _traced_cycle(ctx, Lake(root), csv_path, f"c{k}")
            u = cycle(2 * k + 1) if first_traced else u
            shutil.rmtree(u[0], ignore_errors=True)
            pairs.append((rec["wall"], u[2]))
            traced.append(rec)
            runs.append((root, result, rec["wall"]))
        else:
            runs.append(cycle(k))
    wall = time.perf_counter() - start
    ctx.rss_stop()

    failed, lake_bytes, lake_files = 0, [], []
    for root, result, _ in runs:
        reason = _check_cycle(result, root, expected(day_rows))
        if reason:
            ctx.log(f"CHECK FAILED cycle {root}: {reason}")
            failed += 1
        b, f = _tree_size(root)
        lake_bytes.append(b)
        lake_files.append(f)
        shutil.rmtree(root, ignore_errors=True)

    out = Outcome(setup_s, [w for _, _, w in runs], len(runs), wall, len(runs), failed)
    out.detail = {
        "csv_rows": csv_rows, "csv_bytes": csv_bytes, "expected_total_events": expected(day_rows),
    }
    if ctx.trace:
        top = ("ingest", "publish", "validation", "materialize")
        stages = top + tuple(f"materialize.{v}" for v in REPORTING_VIEWS)
        out.layers = {
            f"{s}_s" if "." in s else f"{s}.s": _mean(r["stage_s"][s] for r in traced) for s in stages
        }
        out.layers.update({
            "ingest.keep_ratio": _mean(r["ingest"].total_events for _, r, _ in runs) / csv_rows,
            "lake.mb_written": _mean(lake_bytes) / 1e6,
            "lake.files_written": _mean(lake_files),
            "lake.bytes_per_csv_byte": _mean(lake_bytes) / csv_bytes,
            "trace.overhead_frac": _overhead(pairs),
            **_spark_layers(traced, ctx.jobs.cores),
        })
        out.detail["span_cover_err_max"] = max(
            abs(r["wall"] - sum(r["stage_s"][s] for s in top)) / r["wall"] for r in traced
        )
    return out


# --------------------------------------------------------------------------
# stream_freshness: StreamingPipeline under an open-loop file generator
# --------------------------------------------------------------------------

VIEWS = ("funnel_5m", "sliding_revenue", "active_users_daily")
DURATIONS = ("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _check_views(ctx: Ctx, src: str, views: str) -> list[str]:
    """Views whose final table differs from the batch aggregate over all
    landed files."""
    from streaming_ecom_analytics_spark.streaming import windows

    batch = ctx.spark.read.schema(TESTDATA_EVENT_SCHEMA).parquet(src)
    want = {
        "funnel_5m": windows.tumbling_event_counts(batch, watermark=None),
        "sliding_revenue": windows.sliding_revenue(batch, watermark=None),
        "active_users_daily": windows.windowed_active_users(batch, watermark=None),
    }
    bad = []
    for name, df in want.items():
        got = ctx.spark.read.parquet(f"{views}/{name}").toPandas()
        if value_hash(got) != value_hash(df.toPandas()) or len(got) == 0:
            bad.append(name)
    return bad


def stream_freshness(ctx: Ctx) -> Outcome:
    from streaming_ecom_analytics_spark.streaming.pipeline import StreamingPipeline

    n_timed = max(1, int(ctx.seconds / STREAM_INTERVAL_S))
    tables = datagen.day_event_tables(ctx.seed, STREAM_WARM_FILES + n_timed, STREAM_ROWS_PER_DAY,
                                      STREAM_USERS)
    staging, src = os.path.join(ctx.work, "staging"), os.path.join(ctx.work, "src")
    os.makedirs(staging)
    os.makedirs(src)
    paths = []
    for k, t in enumerate(tables):
        paths.append(os.path.join(staging, f"{k:03d}.parquet"))
        pq.write_table(t, paths[-1])
    file_rows = [t.num_rows for t in tables]
    due, landed = [], []

    def land(k: int, at: float) -> None:
        due.append(at)
        time.sleep(max(0.0, at - now()))
        os.rename(paths[k], os.path.join(src, f"day-{k:03d}.parquet"))
        landed.append(now())

    def generate(t0: float) -> None:
        for j in range(n_timed):
            land(STREAM_WARM_FILES + j, t0 + j * STREAM_INTERVAL_S)

    views = os.path.join(ctx.work, "views")
    pipe = StreamingPipeline(ctx.spark, warehouse_dir=views, checkpoint_dir=os.path.join(ctx.work, "ckpt"))
    queries = pipe.start_views(pipe.file_events_source(src, max_files_per_trigger=1), available_now=False)
    try:
        # Untimed warm-up on the same queries: the first micro-batches pay
        # for planning, codegen and state-store start-up.
        for k in range(STREAM_WARM_FILES):
            land(k, now())
        for q in queries:
            q.processAllAvailable()
        setup_s = time.perf_counter() - ctx.t0
        ctx.stamp()
        ctx.rss_start()

        t0 = now() + 0.5
        gen = threading.Thread(target=generate, args=(t0,), name="perfbench-generator")
        gen.start()
        gen.join()
        for q in queries:
            q.processAllAvailable()
        end = now()
        ctx.rss_stop()
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination()
    progress = {name: _progress(q) for name, q in zip(VIEWS, queries)}

    bad_views = _check_views(ctx, src, views)
    for v in bad_views:
        ctx.log(f"CHECK FAILED view {v}: final table != batch aggregate")

    timed = range(STREAM_WARM_FILES, len(file_rows))
    fresh, queue_wait, backlog, batches, maps, by_view, failed = [], [], [], {}, {}, {}, 0
    fresh_end: dict[int, float | None] = {k: 0.0 for k in timed}
    for view in VIEWS:
        bs = batches[view] = progress_batches(progress[view])
        backlog += [n for n, b in zip(backlog_at_starts(file_rows, landed, bs), bs) if b["end"] > t0]
        maps[view] = file_batches(file_rows, bs)
        for k in timed:
            b = maps[view][k]
            if b is None or view in bad_views:
                failed += 1
            if b is None:
                fresh_end[k] = None
                continue
            fresh.append(b["end"] - due[k])
            by_view.setdefault(view, []).append(round(fresh[-1], 3))
            queue_wait.append(b["start"] - landed[k])
            if fresh_end[k] is not None:
                fresh_end[k] = max(fresh_end[k], b["end"])

    n_fresh = sum(1 for f in fresh_end.values() if f is not None)
    out = Outcome(setup_s, fresh, n_fresh, end - t0, len(timed) * len(VIEWS), failed)
    out.detail = {"files": len(timed), "interval_s": STREAM_INTERVAL_S, "bad_views": bad_views,
                  "freshness_s_by_view": by_view}

    if ctx.trace:
        tr = ctx.tracer
        for k in timed:
            if fresh_end[k] is None:
                continue
            f = tr.add("file", due[k], fresh_end[k], trace=f"f{k}")
            tr.add("gen.land", due[k], landed[k], parent=f)
            for view in VIEWS:
                b = maps[view][k]
                tr.add(f"streaming.{view}.queue", landed[k], b["start"], parent=f)
                tr.add(f"streaming.{view}.batch", b["start"], b["end"], parent=f, batch_id=b["batch_id"])
        timed_b = [b for view in VIEWS for b in batches[view] if b["end"] > t0]
        last_state = [op for bs in batches.values() if bs for op in bs[-1]["state"]]
        out.layers = {
            "streaming.batches": len(timed_b),
            "streaming.batch_ms_p50": percentile(
                [b["duration_ms"].get("triggerExecution", 0) for b in timed_b], 50),
            **{f"streaming.{d}_ms_p50": percentile([b["duration_ms"].get(d, 0) for b in timed_b], 50)
               for d in DURATIONS},
            "streaming.queue_wait_s_p90": percentile(queue_wait, 90),
            "streaming.backlog_max_files": max(backlog, default=0),
            "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
            "streaming.state_mem_mb": sum(op.get("memoryUsedBytes", 0) for op in last_state) / 1e6,
            "streaming.rows_dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0) for b in timed_b for op in b["state"]
            ),
            "gen.lateness_max_s": max(landed[k] - due[k] for k in timed),
            # Spans come from Spark's own progress records after the run,
            # so the traced run executes exactly the untraced code path.
            "trace.overhead_frac": 0.0,
        }
    return out


WORKLOADS = {
    "olap_floor": olap_floor,
    "corpus_heavy": corpus_heavy,
    "pipeline_cycle": pipeline_cycle,
    "stream_freshness": stream_freshness,
}
