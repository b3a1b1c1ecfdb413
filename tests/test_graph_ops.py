"""Independent (third-implementation) checks for graph operators: the
oracle pins Spark==DuckDB; these pin both against a from-scratch pure
Python recomputation, so a shared misreading of the semantics cannot
slip through."""

from __future__ import annotations

from itertools import combinations

import duckdb

from ecostream.queries.registry import QUERIES

from .conftest import SF_SMOKE


def test_g6_triangles_match_pure_python(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    edges: set[tuple[str, str]] = set()
    adj: dict[str, set[str]] = {}
    for _doc_id, text in docs:
        toks = sorted(set(text.split(" ")))
        for a, b in combinations(toks, 2):
            edges.add((a, b))
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict[str, int] = {}
    nodes = sorted(adj)
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: count each triangle once
                for n in (a, b, c):
                    counts[n] = counts.get(n, 0) + 1
    got = {
        r["node"]: r["n_triangles"]
        for r in QUERIES["g6_cooccurrence_triangles"](spark, SF_SMOKE).collect()
    }
    expected = {n: counts[n] for n in nodes if n in counts}
    assert got == expected


def test_g6_oriented_equals_naive_on_skewed_hub_graph(spark):
    """The degree-ordered orientation must enumerate EXACTLY the same
    triangle corner multiset as the naive two-path join — exercised on
    the adversarial shape orientation exists for: one hub of degree 24
    (naive fan-out d² = 576 wedges from the hub alone) glued to a
    5-clique and triangle fans through the hub."""
    from pyspark.sql import functions as F

    from ecostream.queries.graph import (
        triangle_corners_naive,
        triangle_corners_oriented,
    )

    pairs: set[tuple[str, str]] = set()
    hub = "hub"
    spokes = [f"s{i:02d}" for i in range(20)]
    for s in spokes:
        pairs.add(tuple(sorted((hub, s))))
    # Triangle fans: consecutive spokes connected -> hub triangles.
    for i in range(0, 20, 2):
        pairs.add(tuple(sorted((spokes[i], spokes[i + 1]))))
    clique = [f"c{i}" for i in range(5)]
    for a, b in combinations(clique, 2):
        pairs.add((a, b))
    pairs.add(tuple(sorted((hub, clique[0]))))  # bridge
    edges = spark.createDataFrame(sorted(pairs), "a string, b string")

    def counts(tri_df):
        return {
            r["node"]: r["n"]
            for r in tri_df.select(
                F.explode(F.array("a", "b", "c")).alias("node")
            )
            .groupBy("node")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    naive = counts(triangle_corners_naive(edges))
    oriented = counts(triangle_corners_oriented(edges))
    assert naive == oriented
    # Independent expectation: hub participates in the 10 fan triangles,
    # each clique node in C(4,2)=6 of the 10 clique triangles.
    assert naive["hub"] == 10
    assert naive["c1"] == 6


def test_g6_oriented_equals_naive_on_corpus(spark):
    """Same equality on the real token co-occurrence graph."""
    from pyspark.sql import functions as F

    from ecostream.queries.graph import (
        triangle_corners_naive,
        triangle_corners_oriented,
    )
    from ecostream.schema import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    edges = (
        tok.alias("x")
        .join(
            tok.alias("y"),
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.tok") < F.col("y.tok")),
        )
        .select(F.col("x.tok").alias("a"), F.col("y.tok").alias("b"))
        .distinct()
    )
    n_naive = triangle_corners_naive(edges).count()
    n_oriented = triangle_corners_oriented(edges).count()
    assert n_naive == n_oriented > 0


def test_g8_wraps_the_antimeridian(spark):
    """Users 45 and 82916 hash to points on OPPOSITE sides of the
    ±180° seam, 39.632 km apart — the pair only survives if the
    neighbor-cell explode wraps longitude mod 360.  A third far-away
    user must not pair with either."""
    import tempfile

    from pyspark.sql import functions as F

    from ecostream.queries import QUERIES

    ids = [45, 82916, 7]  # 7 is nowhere near the seam pair
    df = spark.createDataFrame([(i, i) for i in ids], "event_id long, user_id long").select(
        "event_id", "user_id",
        F.timestamp_micros(F.lit(1_700_000_000_000_000)).alias("ts"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        rows = QUERIES["g8_geo_neighbor_join"](spark, d).collect()
    assert [(r["user_a"], r["user_b"], r["dist_km"]) for r in rows] == [
        (45, 82916, 39.632)
    ]


def test_g14_ppr_matches_pure_python_replay(spark):
    """g14's three integer waves recomputed from scratch in pure
    Python over the same per-user transition pairs: every floored
    flow, the restart blend, and the final micro-scores must match
    exactly (the third-implementation discipline — a shared
    misreading of the wave arithmetic cannot slip through two SQL
    engines that copied each other's expression)."""
    rows = duckdb.sql(
        f"""
        SELECT cur, nxt, count(*) AS cnt FROM (
            SELECT user_id, event_type AS cur,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS nxt
            FROM '{SF_SMOKE}/events.parquet'
        ) WHERE nxt IS NOT NULL GROUP BY cur, nxt
        """
    ).fetchall()
    states = sorted(
        {r[0] for r in duckdb.sql(
            f"SELECT DISTINCT event_type FROM '{SF_SMOKE}/events.parquet'"
        ).fetchall()}
    )
    tot: dict[str, int] = {}
    for cur, _nxt, cnt in rows:
        tot[cur] = tot.get(cur, 0) + cnt
    seed = min(states)
    s = {st: (1_000_000 if st == seed else 0) for st in states}
    for _ in range(3):
        raw = {st: 0 for st in states}
        for cur, nxt, cnt in rows:
            if s.get(cur, 0) > 0:
                raw[nxt] += (s[cur] * cnt) // tot[cur]
        s = {
            st: (150_000 if st == seed else 0) + (850 * raw[st]) // 1000
            for st in states
        }
    got = {
        r["event_type"]: r["ppr_micro"]
        for r in QUERIES["g14_personalized_pagerank"](spark, SF_SMOKE).collect()
    }
    assert got == s
    # Mass sanity: restart injects 150k/wave and floors only lose
    # mass, so the total stays within (0, 1e6].
    assert 0 < sum(got.values()) <= 1_000_000


def test_g15_truss_matches_pure_python(spark):
    """Third implementation of the 4-truss bulk peel: a dict-based
    Python fixpoint over the SAME co-presence edge set must produce the
    identical surviving edges and within-truss supports (guards the
    Spark triple join and the DuckDB unroll against a shared
    misreading of the truss definition)."""
    from itertools import combinations

    from ecostream.queries.graph import _G15_T, copresence_support_pairs, g15_k_truss
    from tests.conftest import SF_CORRECT

    edges = {
        (r["s"], r["d"])
        for r in copresence_support_pairs(spark, SF_CORRECT).collect()
    }

    def supports(es):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {}
        for a, b in es:
            common = adj[a] & adj[b]
            for c in common:
                # count each triangle once per edge: (a,b) closes with c
                sup[(a, b)] = sup.get((a, b), 0) + 1
        return sup

    cur = set(edges)
    while True:
        sup = supports(cur)
        nxt = {e for e in cur if sup.get(e, 0) >= _G15_T}
        if nxt == cur:
            break
        cur = nxt
    expected = {e: supports(cur).get(e, 0) for e in cur}

    got = {
        (r["u"], r["w"]): r["support"]
        for r in g15_k_truss(spark, SF_CORRECT).collect()
    }
    assert got == expected
    # truss invariant: every surviving edge closes >= t triangles
    assert all(v >= _G15_T for v in got.values()) or not got


def test_bounded_collect_guard(spark):
    """VERDICT r12 #3: model-sized driver collects fail loudly at the
    cap instead of shipping an unbounded relation to the driver."""
    import pytest

    from ecostream.functions.guards import bounded_collect

    df = spark.range(10)
    assert len(bounded_collect(df, 10, "ok")) == 10
    assert len(bounded_collect(df, 100, "ok")) == 10
    with pytest.raises(ValueError, match="model-size bound"):
        bounded_collect(df, 9, "over-cap synthetic")


def test_g14_empty_and_null_events(spark, tmp_path):
    """ADVICE r12: NULL event_types must not break the driver fold and
    an empty events table must yield an empty result, not ValueError."""
    import pyspark.sql.functions as F

    from ecostream.queries.graph import g14_personalized_pagerank
    from ecostream.schema import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    d_empty = str(tmp_path / "empty")
    src.limit(0).write.parquet(f"{d_empty}/events.parquet")
    assert g14_personalized_pagerank(spark, d_empty).count() == 0

    d_null = str(tmp_path / "withnull")
    src.limit(50).withColumn(
        "event_type",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(
            F.col("event_type")
        ),
    ).write.parquet(f"{d_null}/events.parquet")
    out = g14_personalized_pagerank(spark, d_null).collect()
    assert out  # non-empty, no TypeError from sorting None
    assert all(r["event_type"] is not None for r in out)


def test_g14_states_collect_is_capped(spark, tmp_path):
    """g14's driver-side state space is capped: an events table with
    more distinct event_types than the declared cap fails loudly
    instead of collecting them all."""
    import pytest

    from ecostream.queries.graph import (
        _G14_MAX_STATES,
        g14_personalized_pagerank,
    )

    n = _G14_MAX_STATES + 1
    d = str(tmp_path / "wide")
    spark.range(n).selectExpr(
        "id AS event_id",
        "timestamp_seconds(id) AS ts",
        "id % 7 AS user_id",
        "concat('t', id) AS event_type",
        "1.0D AS value",
        "'{}' AS props",
    ).write.parquet(f"{d}/events.parquet")
    with pytest.raises(ValueError, match="g14 states"):
        g14_personalized_pagerank(spark, d).collect()
