#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload query_serve --seed 7 --seconds 10 --trace 0

Run from the root of a checkout.  The run sets up (stages seeded inputs,
launches the JVM and starts the session, warms up) and reports the time
from process start to the end of the warm-up as ``setup_s``, primes the
workload, measures it for ``--seconds``, checks every output outside the
timed region, and prints a human-readable
summary followed by one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything it
writes stays under ``.perfbench_work/`` (removed at the end) and
``.perfbench_runs/<run id>/`` (the run record and, when traced, the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import stats

WORKLOADS = ("stream_live", "stream_catchup", "query_serve", "batch_analytics")
TAIL_P = 90.0
REQUIRED = ("ecostream/__init__.py", "__spark_entry__.py", "tests/parity.py")


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def confine_env(work: Path) -> None:
    """Keep Spark's and Python's temporary files inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    # -XX:-UsePerfData: no hsperfdata file under /tmp.
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def host_facts(root: Path, spark) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
    }


def warmup(spark) -> None:
    """A shuffle job and an Arrow pandas-UDF job: JIT, codegen, Python workers."""
    from pyspark.sql import functions as F

    spark.range(0, 200_000).groupBy((F.col("id") % 13).alias("k")).count().collect()
    spark.range(0, 1_000).withColumn("k", F.col("id") % 3).groupBy("k").applyInPandas(
        lambda pdf: pdf.head(1), schema="id long, k long"
    ).collect()


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS of this Python process and of its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def make_workload(name: str):
    if name in ("stream_live", "stream_catchup"):
        import stream

        return stream.StreamLive() if name == "stream_live" else stream.StreamCatchup()
    import queries

    return queries.QUERY_SERVE if name == "query_serve" else queries.BATCH_ANALYTICS


def end_to_end(res, setup_s: float) -> dict[str, dict]:
    lat = res.latencies_ms
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
        "latency_p90_ms": {"value": stats.percentile(lat, TAIL_P), "unit": "ms"},
        "throughput_per_s": {"value": res.throughput_per_s, "unit": "1/s"},
    }


ALIASES = {
    "stream_live": {"latency_p50_ms": "emit_latency_p50_ms", "latency_p90_ms": "emit_latency_p90_ms"},
    "stream_catchup": {"throughput_per_s": "catchup_events_per_s"},
    "query_serve": {
        "latency_p50_ms": "query_latency_p50_ms",
        "latency_p90_ms": "query_latency_p90_ms",
        "throughput_per_s": "queries_per_s",
    },
    "batch_analytics": {"latency_p50_ms": "job_s (in ms)", "throughput_per_s": "jobs_per_s"},
}


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description="Run one ecostream benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    missing = [p for p in REQUIRED if not (root / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = root / ".perfbench_work" / run_id
    out_dir = root / ".perfbench_runs" / run_id
    confine_env(work)
    sys.path.insert(0, str(root))

    load_before = os.getloadavg()
    from ecostream.streaming import stateful
    from ecostream.session import get_spark

    # get_spark exports PYTHONPATH for the JVM it starts; the extra .pth
    # file it drops into site-packages only serves JVMs started earlier,
    # and would be a write outside the checkout.
    stateful._install_pth_shim = lambda *a, **k: True

    from common import Ctx
    from spans import JobProbe, ProgressLog, Tracer

    tracer = Tracer(run_id, bool(args.trace))
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
    wl = make_workload(args.workload)
    spark = None
    try:
        with tracer.span("run", "bench", workload=args.workload) as run_span:
            ctx.run_span = run_span
            boot_s = time.time() - t_start  # interpreter start and imports
            with tracer.span("stage", "loadgen", run_span):
                inputs = wl.stage(ctx)
            t1 = time.time()
            with tracer.span("get_spark", "session", run_span):
                spark = get_spark(app_name=f"perfbench-{args.workload}")
            t2 = time.time()
            with tracer.span("warmup", "session", run_span):
                warmup(spark)
            t3 = time.time()
            setup_s = t3 - t_start
            ctx.spark = spark
            ctx.probe = JobProbe(spark.sparkContext, bool(args.trace))
            ctx.progress = ProgressLog()
            spark.streams.addListener(ctx.progress)

            t0 = time.time()
            wl.prime(ctx, inputs)
            prime_s = time.time() - t0
            res = wl.measure(ctx, inputs)
            rss_py, rss_jvm = peak_rss_mb(spark)
            spark.streams.removeListener(ctx.progress)
        facts = host_facts(root, spark)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()

    e2e = end_to_end(res, setup_s)
    # stream_live's p99 is reported but not bounded: it is about the
    # slowest of ~10 micro-batches, which comes and goes between runs.
    p99 = stats.percentile(res.latencies_ms, 99) if args.workload == "stream_live" else None
    layers = {k: float(v) for k, v in sorted(res.layers.items())}
    layers["session.get_spark_s"] = t2 - t1
    layers["session.warmup_s"] = t3 - t2
    layers["session.peak_rss_mb"] = rss_py + rss_jvm
    if args.trace:
        for layer, s in tracer.self_time_s().items():
            layers[f"{layer}.self_s"] = s
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.record_ms"] = (tracer.busy_s + ctx.probe.busy_s) * 1e3
    error_rate = res.failed / res.attempted if res.attempted else 1.0
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**facts, "loadavg_before": load_before, "loadavg_after": load_after},
        "end_to_end": e2e,
        "error_rate": error_rate,
        "attempted": res.attempted,
        "failed": res.failed,
        "errors": res.errors[:20],
        "emit_latency_p99_ms": p99,
        "samples": len(res.latencies_ms),
        "tail_percentile_supported": stats.tail_percentile(len(res.latencies_ms)),
        "peak_rss_mb": {"python": rss_py, "jvm": rss_jvm, "total": rss_py + rss_jvm},
        "prime_s": prime_s,
        "boot_s": boot_s,
        "summary": res.summary,
        "per_layer": layers,
    }
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "record.json").write_text(json.dumps(record, indent=1, default=str))
    tracer.write(out_dir / "trace.json")

    print(f"run {run_id}  host {json.dumps(record['host'])}")
    print(
        f"  samples {len(res.latencies_ms)} (p{record['tail_percentile_supported']} has 10 beyond)"
        f"  boot_s {boot_s:.3f}  prime_s {prime_s:.3f}"
    )
    print(f"  summary {json.dumps(res.summary)}")
    aliases = ALIASES[args.workload]
    for k, m in e2e.items():
        alias = f"  (= {aliases[k]})" if k in aliases else ""
        print(f"  {k:<22} {m['value']:14.4f} {m['unit']}{alias}")
    print(f"  {'peak_rss_mb':<22} {rss_py + rss_jvm:14.4f} MB  (Python {rss_py:.0f} + JVM {rss_jvm:.0f})")
    print(f"  {'error_rate':<22} {error_rate:14.4f} ratio  ({res.failed} of {res.attempted} operations)")
    if p99 is not None:
        print(f"  {'latency_p99_ms':<22} {p99:14.4f} ms  (= emit_latency_p99_ms; not bounded)")
    for e in res.errors[:5]:
        print(f"  error: {e}")
    if args.trace:
        for k, v in layers.items():
            print(f"  {k:<44} {v:14.4f}")
    print("e2e " + json.dumps({k: m["value"] for k, m in e2e.items()}))
    if args.trace:
        bench = json.loads((root / "BENCHMARK.json").read_text())
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = e2e
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
