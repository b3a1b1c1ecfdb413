"""The load generator: inputs depend on the seed alone."""

import json

import loadgen
import numpy as np
import pyarrow.parquet as pq
from spans import Tracer


def test_event_files_are_a_function_of_seed_and_index():
    a = loadgen.event_file(7, 3, 200)
    assert a.equals(loadgen.event_file(7, 3, 200))
    assert not a.equals(loadgen.event_file(8, 3, 200))
    assert not a.equals(loadgen.event_file(7, 4, 200))
    assert a.column("event_id").to_pylist() == list(range(600, 800))


def test_due_times_fill_only_created_ts():
    due = loadgen.due_times_us(1000.0, 3, 200, 100.0)
    a = loadgen.event_file(7, 3, 200)
    b = loadgen.event_file(7, 3, 200, due)
    assert a.drop(["created_ts"]).equals(b.drop(["created_ts"]))
    assert b.column("created_ts").cast("int64").to_pylist() == due.tolist()


def test_due_times_follow_the_schedule():
    due = loadgen.due_times_us(10.0, 2, 5, 50.0)
    # events 10..14 of a 50 ev/s schedule starting at t=10 s
    assert due.tolist() == [round((10.0 + k / 50.0) * 1e6) for k in range(10, 15)]


def test_late_events_are_isolated_in_their_windows():
    t = loadgen.event_file(1, 0, 5000)
    ids = np.asarray(t.column("event_id"))
    ts = np.asarray(t.column("ts").cast("int64"))
    nominal = loadgen.EVENTS_EPOCH_US + ids * loadgen.EVENT_STEP_S * 1_000_000
    late = ts < nominal
    assert late.mean() == 1 / loadgen.LATE_EVERY
    lateness_s = set(((nominal - ts)[late] // 1_000_000).tolist())
    assert lateness_s == set(loadgen.LATE_OFFSETS_S)
    very_late = np.sort(ts[(nominal - ts) // 1_000_000 == max(loadgen.LATE_OFFSETS_S)])
    window_us = 5 * 60 * 1_000_000
    assert np.all(np.diff(very_late // window_us) >= 1)


def test_tables_are_a_function_of_the_seed():
    a = loadgen.build_tables(0.001, 5)
    b = loadgen.build_tables(0.001, 5)
    c = loadgen.build_tables(0.001, 6)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {k: t.num_rows for k, t in a.items()} == loadgen.table_sizes(0.001)


def test_make_tables_writes_one_row_group_per_table(tmp_path):
    rows = loadgen.make_tables(tmp_path, 0.001, 1)
    for name, n in rows.items():
        meta = pq.read_metadata(tmp_path / f"{name}.parquet")
        assert (meta.num_rows, meta.num_row_groups) == (n, 1)


def test_publisher_keeps_schedule_and_publishes_atomically(tmp_path):
    events = tmp_path / "events"
    manifest = tmp_path / "manifest.jsonl"
    import time

    start = time.time() + 0.2
    loadgen.run_publisher(events, manifest, 3, 200.0, 20, start, start + 1.0)
    files = loadgen.read_manifest(manifest)
    assert [f["index"] for f in files] == list(range(len(files)))
    assert 9 <= len(files) <= 10
    assert sorted(p.name for p in events.iterdir()) == [f["file"] for f in files]
    assert not any((tmp_path / ".staging").iterdir())
    for f in files:
        t = pq.read_table(events / f["file"])
        assert t.equals(loadgen.event_file(3, f["index"], 20, loadgen.due_times_us(start, f["index"], 20, 200.0)))
        assert f["late_ms"] >= 0
    json.dumps(files)


def test_self_time_subtracts_children():
    tr = Tracer("r", True)
    root = tr.add("run", "bench", 0.0, 10.0)
    call = tr.add("call", "queries", 1.0, 5.0, root)
    tr.add("build", "session", 1.0, 2.0, call)
    tr.add("collect", "session", 1.5, 4.0, call)
    st = tr.self_time_s()
    assert st["bench"] == 6.0
    assert st["queries"] == 1.0
    assert st["session"] == 3.5
    off = Tracer("r", False)
    assert off.add("x", "bench", 0, 1) is None and off.spans == []
