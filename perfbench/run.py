"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run sizes the session to the host
(``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_GRAFT_DRIVER_MEM`` = a
quarter of RAM, at most 2g), generates its inputs from ``--seed`` under
``.perfbench/`` in the checkout, warms up untimed, measures for
``--seconds``, checks the outputs, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A ``perfbench-detail:`` line before it records the host,
session, sample counts and tail percentiles; a traced run also writes its
spans to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_units(kind: str) -> dict[str, str]:
    """Metric names and units of ``kind`` ("end_to_end" or "per_layer")
    as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _host_env(work: str) -> dict[str, str]:
    """Host-sized session knobs plus scratch locations inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # 2g, not more: a larger heap grows by a different amount from run
        # to run, which made peak RSS spread by 25% between seeds at 3g.
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(mem_gb / 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "streaming_ecom_analytics_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(_host_env(work))
    sys.path[:0] = [HERE, ROOT]

    import datagen
    import workloads  # after the env: session.py reads it at import
    from stats import percentile, tail
    from spans import SparkJobs, Tracer

    from streaming_ecom_analytics_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(work)
        return 2

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_start_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        ctx = workloads.Ctx(spark, args.seed, args.seconds, bool(args.trace), work, T0,
                            tracer=Tracer(), jobs=SparkJobs(spark),
                            stamp_path=os.path.join(work, "stamp.parquet"))
        datagen.write_stamp_table(ctx.stamp_path)
        out = workloads.WORKLOADS[args.workload](ctx)
        ctx.stamp()
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": sc.master, "default_parallelism": sc.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "cpus": os.environ["SPARK_GRAFT_CPUS"], "session_start_s": session_start_s,
            "stamp_before": ctx.stamps[0], "stamp_after": ctx.stamps[1], "peak_rss": ctx.rss,
            "samples": len(out.latencies),
            "tail": tail(out.latencies), "wall_s": out.wall_s, "ops_per_s": out.ops / out.wall_s,
            **out.detail,
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        units = declared_units("per_layer")
        # a layer the workload does not exercise reads 0
        values = {name: 0.0 for name in units}
        values.update({"session.start_s": session_start_s, **out.layers})
    else:
        values = {
            "setup_s": out.setup_s,
            "op_p50_s": percentile(out.latencies, 50),
            "peak_rss_mb": ctx.rss["python_mb"] + ctx.rss["jvm_mb"],
        }
        units = declared_units("end_to_end")
    unknown = set(values) - set(units)
    assert not unknown, f"metrics not declared in BENCHMARK.json: {sorted(unknown)}"
    print("perfbench-detail: " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
