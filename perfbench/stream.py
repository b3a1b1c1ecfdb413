"""The two stream workloads: ``stream_live`` and ``stream_catchup``.

Both run the reference consumer loop's pipeline through the engine's
public streaming entry points, as three queries over one file source:

* ``counts``: ``windowed_counts`` by (window, event_type) into a memory sink,
* ``sketch``: ``running_sketch`` (per-type count, sum, MinHash) into a memory sink,
* ``store``:  ``store_with_ttl``, the hour-partitioned parquet store with TTL.

An event's result is complete when all three queries have committed the
micro-batch that read its file.  Which batch read which file comes from
the file source's own log in each checkpoint; when the batch committed
comes from ``StreamingQueryProgress`` (trigger start plus trigger time),
collected by a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import math
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

import loadgen
import stats
from common import Result
from pyspark.sql import types as T

from ecostream.streaming import (
    batch_sketch,
    file_stream_source,
    running_sketch,
    store_with_ttl,
    windowed_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
        T.StructField("created_ts", T.TimestampType()),
    ]
)
WINDOW = "5 minutes"
ROLES = ("counts", "sketch", "store")

# stream_live: open loop, well below the catch-up capacity.
LIVE_RATE = 100.0  # events per second
LIVE_ROWS_PER_FILE = 10  # one file every 100 ms
LIVE_LEAD_S = 1.0  # queries start this long before the first event is due
# The three live queries trigger together on this clock, so each batch
# meets the same contention and the wait for a trigger is uniform.  A
# batch of the three takes ~0.65 s at p50 and ~0.9 s at p99 on 4 CPUs; a
# shorter trigger would run them back to back and out of step.
LIVE_TRIGGER = "1 second"

# stream_catchup: a fixed pre-staged backlog, drained repeatedly.
CATCHUP_FILES = 40
CATCHUP_ROWS_PER_FILE = 500
CATCHUP_FILES_PER_TRIGGER = 10
CATCHUP_PRIME_DRAINS = 2

# stream_live primes (JIT, Python workers, codegen) on a few
# seed-independent files.
PRIME_FILES = 4
PRIME_ROWS_PER_FILE = 200
PRIME_SEED = 0


@dataclass
class Pipeline:
    tag: str
    queries: dict
    checkpoints: dict
    store_dir: Path
    started: float = 0.0

    @property
    def counts_table(self) -> str:
        return f"counts_{self.tag}"

    @property
    def sketch_table(self) -> str:
        return f"sketch_{self.tag}"


def start_pipeline(
    spark, events_dir: Path, work: Path, tag: str, max_files: int | None = None, trigger: str | None = None
) -> Pipeline:
    if max_files is None:
        src = file_stream_source(spark, str(events_dir), EVENT_SCHEMA)
    else:
        # file_stream_source takes no reader options; this is the same
        # reader with the files-per-trigger cap a catch-up needs.
        src = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(str(events_dir))
        )
    ck = {r: work / f"ckpt_{tag}_{r}" for r in ROLES}
    store_dir = work / f"store_{tag}"
    p = Pipeline(tag, {}, ck, store_dir, time.time())
    counts = windowed_counts(src, ts_col="ts", window=WINDOW, keys=("event_type",))
    writers = {
        "counts": counts.writeStream.format("memory")
        .queryName(p.counts_table)
        .outputMode("update")
        .option("checkpointLocation", str(ck["counts"])),
        "sketch": running_sketch(src.select("event_type", "user_id", "value"))
        .writeStream.format("memory")
        .queryName(p.sketch_table)
        .outputMode("update")
        .option("checkpointLocation", str(ck["sketch"])),
        "store": store_with_ttl(src, str(store_dir), str(ck["store"]), ts_col="ts"),
    }
    for role, w in writers.items():
        p.queries[role] = (w.trigger(processingTime=trigger) if trigger else w).start()
    return p


def drain_and_stop(p: Pipeline) -> None:
    for q in p.queries.values():
        q.processAllAvailable()
    for q in p.queries.values():
        q.stop()
        q.awaitTermination(60)


def file_log_offsets(checkpoint: Path) -> dict[str, int]:
    """File name -> file-source log offset, from the checkpoint's
    ``sources/0`` log (plain and compacted entries alike)."""
    out: dict[str, int] = {}
    for f in (checkpoint / "sources" / "0").iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                out[e["path"].rsplit("/", 1)[-1]] = e["batchId"]
    return out


def _log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_commits(progress: list[dict]) -> list[tuple[int, int, float, dict]]:
    """(first log offset, last log offset, commit time, progress) per
    batch that read input."""
    out = []
    for p in progress:
        src = p["sources"][0]
        lo, hi = _log_offset(src.get("startOffset")) + 1, _log_offset(src.get("endOffset"))
        if hi < lo:
            continue
        end = _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
        out.append((lo, hi, end, p))
    return out


def file_result_times(p: Pipeline, plog) -> dict[str, float]:
    """File name -> time all three queries had committed it."""
    done: dict[str, float] = {}
    for role, q in p.queries.items():
        commits = batch_commits(plog.for_query(str(q.id)))
        by_offset = {o: t for lo, hi, t, _ in commits for o in range(lo, hi + 1)}
        for name, off in file_log_offsets(p.checkpoints[role]).items():
            t = by_offset.get(off, math.inf)
            done[name] = max(done.get(name, 0.0), t)
    return done


def wait_progress(p: Pipeline, plog) -> None:
    for q in p.queries.values():
        last = q.lastProgress
        if last is not None:
            plog.wait_for(str(q.id), last["batchId"])


def trace_batches(ctx, p: Pipeline, plog, parent) -> None:
    """One span per micro-batch, from its progress timestamps, with the
    stateful operators' update time (``allUpdatesTimeMs``) as a child."""
    for role, q in p.queries.items():
        for _lo, _hi, end, pr in batch_commits(plog.for_query(str(q.id))):
            start = _epoch(pr["timestamp"])
            sid = ctx.tracer.add(
                f"microbatch.{role}", "streaming.ingest", start, end, parent,
                batch=pr["batchId"], rows=pr["numInputRows"],
            )
            upd = sum(o.get("allUpdatesTimeMs", 0) for o in pr.get("stateOperators", []))
            if upd:
                ctx.tracer.add("state.update", "streaming.stateful", start, start + upd / 1000.0, sid)


def check(spark, p: Pipeline, events_dir: Path, rows: int, plog) -> list[str]:
    """Stream results against the same generated files, read in batch."""
    errors = []
    emitted = spark.sql(f"SELECT * FROM {p.sketch_table}").collect()
    final: dict = {}
    for r in emitted:
        if r["event_type"] not in final or r["n"] > final[r["event_type"]]["n"]:
            final[r["event_type"]] = r
    batch = spark.read.schema(EVENT_SCHEMA).parquet(str(events_dir))
    expected = {r["event_type"]: r for r in batch_sketch(batch).collect()}
    if set(final) != set(expected):
        errors.append(f"sketch keys {sorted(final)} != {sorted(expected)}")
    for k in set(final) & set(expected):
        a, e = final[k], expected[k]
        if a["n"] != e["n"] or list(a["sig"]) != list(e["sig"]) or not math.isclose(
            a["total"], e["total"], rel_tol=1e-12, abs_tol=1e-9
        ):
            errors.append(f"sketch[{k}] stream={a} batch={e}")
    counted = spark.sql(
        f"SELECT COALESCE(SUM(c), 0) FROM (SELECT MAX(cnt) AS c FROM {p.counts_table} "
        "GROUP BY window_start, event_type)"
    ).collect()[0][0]
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for pr in plog.for_query(str(p.queries["counts"].id))
        for o in pr.get("stateOperators", [])
    )
    if counted + dropped != rows:
        errors.append(f"windowed counts {counted} + dropped {dropped} != generated {rows}")
    return errors


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _pctl(xs, p) -> float:
    return stats.percentile(xs, p) if xs else 0.0


def _durations(key: str, progress: list[dict]) -> list[int]:
    return [pr["durationMs"].get(key, 0) for pr in progress]


def _state_ops(progress: list[dict]) -> list[dict]:
    return [o for pr in progress if pr["numInputRows"] > 0 for o in pr.get("stateOperators", [])]


def stream_layers(p: Pipeline, plog) -> dict[str, float]:
    """Per-layer metrics read from the queries' progress and the store."""
    by_role = {role: plog.for_query(str(q.id)) for role, q in p.queries.items()}
    every = [pr for prs in by_role.values() for pr in prs]
    ran = [pr for pr in every if pr["numInputRows"] > 0]
    stateful = by_role["counts"] + by_role["sketch"]
    # The state size is the last batch's, per query.
    last_ops = [o for prs in (by_role["counts"], by_role["sketch"]) if prs for o in prs[-1].get("stateOperators", [])]
    parts = list(p.store_dir.glob("event_hour=*")) if p.store_dir.exists() else []
    return {
        "ingest.batches": len(ran),
        "ingest.rows_per_batch_p50": _p50([pr["numInputRows"] for pr in ran]),
        "ingest.latest_offset_ms_p50": _p50(_durations("latestOffset", every)),
        "ingest.query_planning_ms_p50": _p50(_durations("queryPlanning", ran)),
        "ingest.wal_commit_ms_p50": _p50(_durations("walCommit", ran)),
        "ingest.trigger_ms_p50": _p50(_durations("triggerExecution", ran)),
        "ingest.trigger_ms_p99": _pctl(_durations("triggerExecution", ran), 99),
        "ingest.add_batch_ms_p50": _p50(_durations("addBatch", ran)),
        "ingest.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for pr in by_role["counts"] for o in pr.get("stateOperators", [])
        ),
        "stateful.update_ms_p50": _p50([o.get("allUpdatesTimeMs", 0) for o in _state_ops(by_role["sketch"])]),
        "stateful.commit_ms_p50": _p50([o.get("commitTimeMs", 0) for o in _state_ops(stateful)]),
        "stateful.state_rows": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "stateful.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
        "store.partitions_live": len(parts),
        "store.bytes": sum(f.stat().st_size for d in parts for f in d.rglob("*.parquet")),
    }


def _store_hours_written(events_dir: Path) -> int:
    import pyarrow.dataset as ds

    ts = ds.dataset(str(events_dir), format="parquet").to_table(columns=["ts"]).column("ts")
    return len({int(x) // 3_600_000_000 for x in ts.cast("int64").to_pylist()})


def _batches(p: Pipeline, plog) -> int:
    return sum(len(batch_commits(plog.for_query(str(q.id)))) for q in p.queries.values())


class StreamLive:
    """Open loop: one generator process publishes files on a schedule
    while the pipeline tails the directory."""

    def stage(self, ctx) -> Path:
        d = ctx.work / "live" / "events"
        d.mkdir(parents=True, exist_ok=True)
        return d

    def prime(self, ctx, events_dir: Path) -> None:
        """Run the whole pipeline once over a few seed-independent files."""
        d = ctx.work / "prime_events"
        loadgen.stage_backlog(d, PRIME_SEED, PRIME_FILES, PRIME_ROWS_PER_FILE)
        drain_and_stop(start_pipeline(ctx.spark, d, ctx.work, "prime"))

    def measure(self, ctx, events_dir: Path) -> Result:
        manifest = ctx.work / "live" / "manifest.jsonl"
        p = start_pipeline(ctx.spark, events_dir, ctx.work, "live", trigger=LIVE_TRIGGER)
        start = time.time() + LIVE_LEAD_S
        stop = start + ctx.seconds
        gen = subprocess.Popen(
            [
                sys.executable, str(Path(loadgen.__file__)),
                "--events-dir", str(events_dir), "--manifest", str(manifest),
                "--seed", str(ctx.seed), "--rate", str(LIVE_RATE),
                "--rows-per-file", str(LIVE_ROWS_PER_FILE),
                "--start", repr(start), "--stop", repr(stop),
            ]
        )
        try:
            gen.wait(timeout=ctx.seconds + LIVE_LEAD_S + 30)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited with {gen.returncode}")
        drain_and_stop(p)
        wait_progress(p, ctx.progress)

        files = loadgen.read_manifest(manifest)
        done = file_result_times(p, ctx.progress)
        res = Result()
        lost = [f["file"] for f in files if not math.isfinite(done.get(f["file"], math.inf))]
        for f in files:
            if f["file"] not in lost:
                due = loadgen.due_times_us(start, f["index"], f["rows"], LIVE_RATE)
                t_us = round(done[f["file"]] * 1e6)
                res.latencies_ms += stats.event_latencies_ms(due, [t_us] * len(due))
        rows = sum(f["rows"] for f in files)
        res.throughput_per_s = (rows - len(lost) * LIVE_ROWS_PER_FILE) / (
            max(t for t in done.values() if math.isfinite(t)) - start
        )
        res.attempted = _batches(p, ctx.progress)
        res.errors = check(ctx.spark, p, events_dir, rows, ctx.progress)
        if lost:
            res.errors.append(f"{len(lost)} published files never committed by all queries")
        res.failed = res.attempted if res.errors else 0

        trace_batches(ctx, p, ctx.progress, ctx.run_span)
        for f in files:
            ctx.tracer.add("loadgen.publish", "loadgen", f["start"], f["published"], ctx.run_span, file=f["file"])
        published = [(f["published"], f["rows"]) for f in files]
        committed = [(done[f["file"]], f["rows"]) for f in files if f["file"] not in lost]
        # Fit from the first commit on: before it the backlog only fills
        # up to its steady sawtooth, which is not growth.
        first = min(t for t, _ in committed)
        ts, ys = stats.backlog_series(published, committed, first, stop, 0.25)
        layers = stream_layers(p, ctx.progress)
        layers["loadgen.rows"] = rows
        layers["loadgen.files"] = len(files)
        layers["loadgen.late_ms_p99"] = _pctl([f["late_ms"] for f in files], 99)
        layers["ingest.backlog_rows_end"] = ys[-1]
        layers["ingest.backlog_growth_rows_per_s"] = stats.slope(ts, ys)
        layers["store.partitions_evicted"] = _store_hours_written(events_dir) - layers["store.partitions_live"]
        res.layers = layers
        res.summary = {"rate_events_per_s": LIVE_RATE, "files": len(files), "events": rows}
        return res


class StreamCatchup:
    """A pre-staged backlog, drained with ``processAllAvailable`` at a
    fixed files-per-trigger; repeated with fresh checkpoints until the
    run length is used."""

    def stage(self, ctx) -> Path:
        d = ctx.work / "backlog" / "events"
        loadgen.stage_backlog(d, ctx.seed, CATCHUP_FILES, CATCHUP_ROWS_PER_FILE)
        return d

    def prime(self, ctx, events_dir: Path) -> None:
        # Untimed drains of the real backlog: with only the small priming
        # files the first measured drain ran 20-40% slower, and after a
        # single drain measured drains still sped up one after another.
        for i in range(CATCHUP_PRIME_DRAINS):
            p = start_pipeline(ctx.spark, events_dir, ctx.work, f"catchup_prime{i}", CATCHUP_FILES_PER_TRIGGER)
            drain_and_stop(p)

    def measure(self, ctx, events_dir: Path) -> Result:
        rows = CATCHUP_FILES * CATCHUP_ROWS_PER_FILE
        res = Result()
        drain_s, drained = [], []
        t_end = time.time() + ctx.seconds
        while not drained or time.time() < t_end:
            p = start_pipeline(
                ctx.spark, events_dir, ctx.work, f"catchup{len(drained)}", CATCHUP_FILES_PER_TRIGGER
            )
            drain_and_stop(p)
            drained.append(p)
        for p in drained:
            wait_progress(p, ctx.progress)
            done = file_result_times(p, ctx.progress)
            drain_s.append(max(done.values()) - p.started)
            for t in done.values():
                res.latencies_ms += [(t - p.started) * 1000.0] * CATCHUP_ROWS_PER_FILE
            batches = _batches(p, ctx.progress)
            res.attempted += batches
            errs = check(ctx.spark, p, events_dir, rows, ctx.progress)
            res.errors += errs
            res.failed += batches if errs else 0
            trace_batches(ctx, p, ctx.progress, ctx.run_span)
        res.throughput_per_s = rows * len(drained) / sum(drain_s)

        layers = stream_layers(drained[-1], ctx.progress)
        layers["loadgen.rows"] = rows
        layers["loadgen.files"] = CATCHUP_FILES
        layers["loadgen.late_ms_p99"] = 0.0
        layers["ingest.backlog_rows_end"] = 0
        layers["ingest.backlog_growth_rows_per_s"] = -res.throughput_per_s
        layers["store.partitions_evicted"] = (
            _store_hours_written(events_dir) - layers["store.partitions_live"]
        )
        res.layers = layers
        res.summary = {
            "drains": len(drained),
            "drain_s": drain_s,
            "backlog_events": rows,
            "files_per_trigger": CATCHUP_FILES_PER_TRIGGER,
        }
        return res
