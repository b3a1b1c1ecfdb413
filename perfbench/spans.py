"""In-memory spans and the Spark-side probes of the traced run.

A span is one benchmark call into a layer (``name``, ``layer``, start,
end, parent).  Spans share the run id, stay in memory and are written
out once, at the end.  With tracing off, ``Tracer`` records nothing and
the probes make no calls into Spark.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.busy_s = 0.0  # time spent inside the tracer's own bookkeeping

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float,
        parent: int | None = None,
        **attrs,
    ) -> int | None:
        """Record a span whose times were measured elsewhere."""
        if not self.enabled:
            return None
        sid = next(self._ids)
        self._append(sid, name, layer, start, end, parent, attrs)
        return sid

    def _append(self, sid, name, layer, start, end, parent, attrs) -> None:
        t = time.perf_counter()
        rec = {
            "run": self.run_id,
            "id": sid,
            "parent": parent,
            "name": name,
            "layer": layer,
            "start": start,
            "end": end,
            **attrs,
        }
        with self._lock:
            self.spans.append(rec)
            self.busy_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        """Time the enclosed block as one span; yields its id (None with
        tracing off) so spans opened inside can name it as parent."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            self._append(sid, name, layer, start, time.time(), parent, attrs)

    def self_time_s(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - covered)
        return dict(out)

    def write(self, path: Path) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run": self.run_id, "spans": self.spans}))


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class JobProbe:
    """Counts the Spark jobs and tasks one benchmark call caused, by
    running the call under its own job group and reading
    ``SparkContext.statusTracker()`` afterwards."""

    def __init__(self, sc, enabled: bool):
        self._sc = sc
        self.enabled = enabled
        self._n = itertools.count(1)
        self.busy_s = 0.0  # time spent reading the status tracker

    @contextmanager
    def group(self, label: str):
        """Yields a dict that holds ``jobs``, ``tasks`` and
        ``failed_tasks`` once the block has run (empty with tracing off)."""
        out: dict = {}
        if not self.enabled:
            yield out
            return
        gid = f"perfbench-{next(self._n)}-{label}"
        self._sc.setJobGroup(gid, label)
        try:
            yield out
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(self.counts(gid))

    def counts(self, gid: str) -> dict[str, int]:
        t = time.perf_counter()
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = failed = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = tracker.getStageInfo(stage)
                if st:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        self.busy_s += time.perf_counter() - t
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


class ProgressLog(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` as a dict."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, query_id: str) -> list[dict]:
        with self._lock:
            out = [p for p in self.events if p["id"] == query_id]
        return sorted(out, key=lambda p: p["batchId"])

    def wait_for(self, query_id: str, batch_id: int, timeout: float = 30.0) -> None:
        """Block until progress for ``batch_id`` of ``query_id`` arrived
        (the listener bus delivers asynchronously)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if any(p["batchId"] >= batch_id for p in self.for_query(query_id)):
                return
            time.sleep(0.05)
        raise TimeoutError(f"no progress for batch {batch_id} of {query_id}")
