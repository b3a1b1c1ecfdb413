"""The two query workloads: ``query_serve`` and ``batch_analytics``.

Both call declared queries through the driver contract
(``__spark_entry__.queries()``), one client in a closed loop: the next
call starts when the previous ``.collect()`` returned.  The call order is
a sequence of passes, each a seed-shuffled permutation of the workload's
query set, so every query type runs equally often.  Each result is
checked, after the measured window, against its DuckDB oracle from
``__spark_entry__.oracle_sql()`` with the ``tests/parity.py`` helpers.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

import loadgen
from common import BATCH_QUERIES, SERVE_QUERIES, Result

import __spark_entry__ as contract
from tests.parity import compare, duck_connection

SERVE_SF = 0.01
BATCH_SF = 0.1


def _key(rows) -> list[str]:
    return sorted(map(repr, rows))


class QueryWorkload:
    def __init__(self, queries: tuple[str, ...], sf: float, prime_passes: int, pass_is_unit: bool):
        self.queries = queries
        self.sf = sf
        self.prime_passes = prime_passes
        # The latency sample: one per call, or one per pass over the set.
        self.pass_is_unit = pass_is_unit

    def stage(self, ctx) -> Path:
        d = ctx.work / "tables"
        loadgen.make_tables(d, self.sf, ctx.seed)
        return d

    def prime(self, ctx, sf_dir: Path) -> None:
        fns = contract.queries()
        for _ in range(self.prime_passes):
            for name in self.queries:
                fns[name](ctx.spark, str(sf_dir)).collect()

    def measure(self, ctx, sf_dir: Path) -> Result:
        fns = contract.queries()
        rng = random.Random(ctx.seed)
        calls: list[dict] = []
        pass_s: list[float] = []
        res = Result()
        start = time.perf_counter()
        deadline = start + ctx.seconds
        # Whole passes only, so every run has the same query mix.
        while not pass_s or time.perf_counter() < deadline:
            order = list(self.queries)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                calls.append(self._call(ctx, fns[name], name, sf_dir))
            pass_s.append(time.perf_counter() - t_pass)
        elapsed = time.perf_counter() - start

        ok = [c for c in calls if "error" not in c]
        if self.pass_is_unit:
            res.latencies_ms = [t * 1e3 for t in pass_s]
        else:
            res.latencies_ms = [c["total_ms"] for c in ok]
        res.throughput_per_s = len(ok) / elapsed
        res.attempted = len(calls)
        self._check(ctx, calls, sf_dir)
        bad = [c for c in calls if "error" in c]
        res.failed = len(bad)
        res.errors = [f"{c['name']}: {c['error']}" for c in bad]
        res.layers = self._layers(calls)
        res.summary = {
            "calls": len(calls),
            "passes": len(pass_s),
            "job_s": statistics.median(pass_s) if pass_s else 0.0,
            "scale_factor": self.sf,
        }
        return res

    def _call(self, ctx, fn, name: str, sf_dir: Path) -> dict:
        rec: dict = {"name": name}
        with ctx.tracer.span("query.call", "queries", ctx.run_span, query=name) as cid:
            with ctx.probe.group(name) as jobs:
                try:
                    t0 = time.perf_counter()
                    with ctx.tracer.span("query.build", "queries", cid, query=name):
                        df = fn(ctx.spark, str(sf_dir))
                    t1 = time.perf_counter()
                    with ctx.tracer.span("query.collect", "queries", cid, query=name):
                        rows = df.collect()
                    t2 = time.perf_counter()
                except Exception as e:  # a failed call is counted, the loop goes on
                    rec["error"] = repr(e)[:500]
                    return rec
        rec.update(
            build_ms=(t1 - t0) * 1e3,
            collect_ms=(t2 - t1) * 1e3,
            total_ms=(t2 - t0) * 1e3,
            schema=df.schema,
            rows=rows,
            **jobs,
        )
        return rec

    def _check(self, ctx, calls: list[dict], sf_dir: Path) -> None:
        """First result of each query against its oracle; every later
        result of the same query must equal the first."""
        oracles = contract.oracle_sql()
        con = duck_connection(str(sf_dir))
        try:
            ref: dict[str, list[str]] = {}
            for c in calls:
                if "error" in c:
                    continue
                name = c["name"]
                if name not in ref:
                    try:
                        got = ctx.spark.createDataFrame(c["rows"], c["schema"])
                        compare(got, con, oracles[name], name)
                    except AssertionError as e:
                        c["error"] = f"oracle mismatch: {str(e)[:300]}"
                        continue
                    ref[name] = _key(c["rows"])
                elif _key(c["rows"]) != ref[name]:
                    c["error"] = "result differs from the first call's"
        finally:
            con.close()

    def _layers(self, calls: list[dict]) -> dict[str, float]:
        m: dict[str, float] = {}
        for name in self.queries:
            cs = [c for c in calls if c["name"] == name and "build_ms" in c]
            med = lambda k: statistics.median(c[k] for c in cs) if cs and k in cs[0] else 0.0  # noqa: E731
            m[f"q.{name}.build_ms_p50"] = med("build_ms")
            m[f"q.{name}.collect_ms_p50"] = med("collect_ms")
            m[f"q.{name}.jobs"] = med("jobs")
            m[f"q.{name}.tasks"] = med("tasks")
        m["queries.failed_tasks"] = sum(c.get("failed_tasks", 0) for c in calls)
        return m


# query_serve's sub-second calls need a second priming pass before the
# JIT settles; one pass is enough for batch_analytics' multi-second jobs.
# batch_analytics' latency is the wall time of one pass (job_s): per job,
# its query types form clusters and the median sits on one of them.
QUERY_SERVE = QueryWorkload(SERVE_QUERIES, SERVE_SF, prime_passes=2, pass_is_unit=False)
BATCH_ANALYTICS = QueryWorkload(BATCH_QUERIES, BATCH_SF, prime_passes=1, pass_is_unit=True)
