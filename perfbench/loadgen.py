"""Seeded input generator for the benchmark.

Everything here derives from the seed alone and imports nothing from the
engine, so an engine change can never change the inputs it is measured on.

Two kinds of input:

* ``make_tables`` writes the star-schema tables the declared queries read
  (``region`` .. ``embeddings``), one parquet file with one row group per
  table, shaped like the repository's testdata (same columns, types,
  vocabularies and value ranges; ``sf`` scales the row counts).
* ``event_file`` builds one file of stream events: the ``events`` table
  columns plus ``created_ts``, the event's scheduled send time.  Event
  time advances ``EVENT_STEP_S`` seconds per event, so a few seconds of
  wall time cover hours of event time (windows close, the watermark
  drops late rows and the store's TTL evicts partitions), and every
  ``LATE_EVERY``-th event is late, alternately by less and by more than
  the watermark delay.  Late events are ``LATE_EVERY * EVENT_STEP_S``
  seconds apart, more than a window, so each one the watermark drops is
  alone in its window: Spark counts dropped *groups*, and this makes that
  count equal to the dropped rows.

Run as a script, this module is the open-loop publisher of the
``stream_live`` workload: it publishes one file per tick on a fixed
schedule, atomically (write under ``.staging`` then rename), and appends
one JSON line per file to a manifest, including how late it ran.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUSES = ("F", "O")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.43, 0.1425, 0.1425, 0.1425, 0.1425)
DUP_SHARE = 0.05
EMBED_DIM = 64

EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400_000_000
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499  # .. 2001-11-04

# Stream events.
EVENT_STEP_S = 10  # event-time seconds between consecutive events
LATE_EVERY = 50  # a 2% share
LATE_OFFSETS_S = (1800, 7200)  # inside / beyond the 1-hour watermark
STREAM_USERS = 1500

UTC_US = pa.timestamp("us", tz="UTC")
EVENT_FILE_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", UTC_US),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("created_ts", UTC_US),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _day_ts(rng: np.random.Generator, day0, days: int, n: int) -> pa.Array:
    d = day0 + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (testdata's ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(1, round(50_000 * sf)),
        "embeddings": max(1, min(2000, round(50_000 * sf))),
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All query tables at scale ``sf``, as a pure function of ``seed``."""
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, 1)
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": _pick(r, SEGMENTS, k),
        }
    )

    r = _rng(seed, 2)
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )

    r = _rng(seed, 3)
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(r, names, k),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
            "p_type": _pick(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    r = _rng(seed, 4)
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n["customer"], k).astype(np.int64)),
            "o_orderstatus": _pick(r, STATUSES, k),
            "o_totalprice": _money(r, 1000.0, 500_000.0, k),
            "o_orderdate": _day_ts(r, ORDER_DAY0, ORDER_DAYS, k),
            "o_orderpriority": _pick(r, PRIORITIES, k),
        }
    )

    r = _rng(seed, 5)
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], k).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, k),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(r, RETURN_FLAGS, k),
            "l_linestatus": _pick(r, LINE_STATUSES, k),
            "l_shipdate": _day_ts(r, SHIP_DAY0, SHIP_DAYS, k),
        }
    )

    r = _rng(seed, 6)
    k = n["events"]
    ts = np.sort(r.integers(0, EVENTS_SPAN_US, k)) + EVENTS_EPOCH_US
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(
                r.integers(0, max(1, round(15_000 * sf)), k).astype(np.int64)
            ),
            "event_type": _pick(r, EVENT_TYPES, k),
            "value": np.round(r.exponential(50.0, k), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
        }
    )

    r = _rng(seed, 7)
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 0 and r.random() < DUP_SHARE:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            idx = r.integers(0, len(WORDS), int(r.integers(10, 100)))
            texts.append(" ".join(WORDS[j] for j in idx))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": texts,
            "lang": _pick(r, LANGS, k, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r = _rng(seed, 8)
    k = n["embeddings"]
    centroids = r.normal(size=(10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = r.integers(0, 10, k)
    vecs = 0.15 * centroids[labels] + r.normal(size=(k, EMBED_DIM)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def make_tables(out_dir: str | Path, sf: float, seed: int) -> dict[str, int]:
    """Write every query table under ``out_dir``; returns rows per table."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, out / f"{name}.parquet", row_group_size=table.num_rows)
        rows[name] = table.num_rows
    return rows


def event_file(
    seed: int, index: int, rows: int, due_us: np.ndarray | None = None
) -> pa.Table:
    """Stream file ``index``: events ``index*rows`` .. ``(index+1)*rows - 1``.

    Content is a pure function of ``(seed, index, rows)``; ``due_us``
    (each event's scheduled send time) only fills ``created_ts``.
    """
    r = _rng(seed, 100, index)
    ids = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    ts = EVENTS_EPOCH_US + ids * EVENT_STEP_S * 1_000_000
    late = ids % LATE_EVERY == LATE_EVERY - 1
    offset_s = np.where((ids // LATE_EVERY) % 2 == 0, *LATE_OFFSETS_S)
    ts = ts - late * offset_s * 1_000_000
    if due_us is None:
        due_us = np.zeros(rows, dtype=np.int64)
    return pa.table(
        [
            pa.array(ids),
            pa.array(ts, UTC_US),
            pa.array(r.integers(0, STREAM_USERS, rows).astype(np.int64)),
            _pick(r, EVENT_TYPES, rows),
            pa.array(np.round(r.exponential(50.0, rows), 2)),
            pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, rows)]),
            pa.array(np.asarray(due_us, dtype=np.int64), UTC_US),
        ],
        schema=EVENT_FILE_SCHEMA,
    )


def publish(table: pa.Table, events_dir: Path, index: int) -> Path:
    """Write ``table`` as ``events_dir/part-<index>.parquet`` atomically."""
    staging = events_dir.parent / ".staging"
    staging.mkdir(exist_ok=True)
    name = f"part-{index:06d}.parquet"
    tmp = staging / name
    pq.write_table(table, tmp)
    final = events_dir / name
    os.replace(tmp, final)
    return final


def stage_backlog(events_dir: str | Path, seed: int, files: int, rows: int) -> int:
    """Pre-stage ``files`` event files (the catch-up backlog); returns rows."""
    d = Path(events_dir)
    d.mkdir(parents=True, exist_ok=True)
    for i in range(files):
        publish(event_file(seed, i, rows), d, i)
    return files * rows


def due_times_us(start_s: float, index: int, rows: int, rate: float) -> np.ndarray:
    """Scheduled send time (epoch µs) of each event of file ``index``.

    Event ``k`` of the open loop is due at ``start + k / rate``; a file
    holds ``rows`` consecutive events and is published when its last
    event is due.
    """
    k = np.arange(index * rows, (index + 1) * rows, dtype=np.float64)
    return np.round((start_s + k / rate) * 1e6).astype(np.int64)


def run_publisher(
    events_dir: Path,
    manifest: Path,
    seed: int,
    rate: float,
    rows: int,
    start_s: float,
    stop_s: float,
) -> None:
    """Open loop: publish file ``i`` when its last event is due, until
    ``stop_s``; never slows down when the engine does."""
    events_dir.mkdir(parents=True, exist_ok=True)
    with open(manifest, "a", encoding="utf-8") as log:
        i = 0
        while True:
            due = due_times_us(start_s, i, rows, rate)
            publish_at = due[-1] / 1e6
            if publish_at > stop_s:
                break
            wait = publish_at - time.time()
            if wait > 0:
                time.sleep(wait)
            t0 = time.time()
            path = publish(event_file(seed, i, rows, due), events_dir, i)
            t1 = time.time()
            log.write(
                json.dumps(
                    {
                        "index": i,
                        "file": path.name,
                        "rows": rows,
                        "due_first_us": int(due[0]),
                        "due_last_us": int(due[-1]),
                        "start": t0,
                        "published": t1,
                        "late_ms": (t0 - publish_at) * 1e3,
                    }
                )
                + "\n"
            )
            log.flush()
            i += 1


def read_manifest(manifest: str | Path) -> list[dict]:
    with open(manifest, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="events per second")
    ap.add_argument("--rows-per-file", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds")
    ap.add_argument("--stop", type=float, required=True, help="epoch seconds")
    a = ap.parse_args(argv)
    run_publisher(
        Path(a.events_dir),
        Path(a.manifest),
        a.seed,
        a.rate,
        a.rows_per_file,
        a.start,
        a.stop,
    )


if __name__ == "__main__":
    main()
