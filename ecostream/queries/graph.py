"""Graph operators (SURVEY §2.9 G1-G3): spatial habitat graph, random
walks, visit-frequency analysis.

The reference builds an undirected habitat graph (nodes = habitats with
first-seen coordinates, edges = pairs within a geodesic threshold,
random_walk_utils.py:7-31) and runs uniform random walks over it.  The
driver tables have no coordinates, so nodes are derived
deterministically from the events table (FIXTURES §C: "synthetic
habitat nodes"): habitat ≙ event_type, coordinates from exact min/max
aggregates folded into lat/lon ranges.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import HAVERSINE_SQL, haversine_km
from ..schema import load_table
from .registry import query


def habitat_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes: one per event_type with deterministic pseudo-coordinates.
    The reference's 'first-seen coordinates' (arrival order) is replaced
    by exact min/max aggregates — order-free, hence oracle-checkable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("habitat")).agg(
        (F.min("value") % 180 - 90).alias("lat"),
        (F.max("value") % 360 - 180).alias("lon"),
    )


_NODES_SQL = """
    SELECT event_type AS habitat,
           fmod(min(value), 180) - 90 AS lat,
           fmod(max(value), 360) - 180 AS lon
    FROM events GROUP BY event_type
"""


def habitat_edges(spark: SparkSession, sf_dir: str, threshold_km: float = 15000.0) -> DataFrame:
    """Edges: all habitat pairs within the distance threshold, weight =
    rounded km — a theta join (BroadcastNestedLoopJoin over ≤ |types|²
    pairs; at real scale the node list is small by construction, so the
    nested-loop side is always broadcastable)."""
    nodes = habitat_nodes(spark, sf_dir)
    a = nodes.alias("a")
    b = nodes.alias("b")
    dist = F.round(
        haversine_km(F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")),
        3,
    )
    return (
        a.join(b, F.col("a.habitat") < F.col("b.habitat"))
        .select(
            F.col("a.habitat").alias("src"),
            F.col("b.habitat").alias("dst"),
            dist.alias("dist_km"),
        )
        .where(F.col("dist_km") <= threshold_km)
    )


@query(
    "g1_habitat_edges",
    oracle=f"""
    WITH nodes AS ({_NODES_SQL})
    SELECT a.habitat AS src, b.habitat AS dst,
           ROUND({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 3) AS dist_km
    FROM nodes a JOIN nodes b ON a.habitat < b.habitat
    WHERE ROUND({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 3) <= 15000.0
    """,
)
def g1_habitat_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 habitat graph construction: nodes + haversine theta join
    (random_walk_utils.py:7-31; distance expr X11)."""
    return habitat_edges(spark, sf_dir)


def _adjacency(spark: SparkSession, sf_dir: str) -> dict[str, list[tuple[str, float]]]:
    """Collect the (tiny, bounded-by-vocabulary) edge list to the driver
    as an undirected adjacency map — sanctioned because node count is
    the category vocabulary (≤ dozens), never data-sized."""
    edges = habitat_edges(spark, sf_dir).collect()
    adj: dict[str, list[tuple[str, float]]] = {}
    for r in edges:
        adj.setdefault(r["src"], []).append((r["dst"], r["dist_km"]))
        adj.setdefault(r["dst"], []).append((r["src"], r["dist_km"]))
    for k in adj:
        adj[k].sort()
    return adj


def random_walk(
    adj: dict[str, list[tuple[str, float]]], start: str, steps: int, seed: int
) -> list[str]:
    """Uniform random neighbor walk with early stop at sinks
    (random_walk_utils.py:33-47); seeded for reproducibility."""
    if start not in adj:
        raise ValueError(f"start node {start!r} not in graph")
    rng = random.Random(seed)
    path = [start]
    cur = start
    for _ in range(steps):
        nbrs = adj.get(cur, [])
        if not nbrs:
            break
        cur = rng.choice(nbrs)[0]
        path.append(cur)
    return path


@query("g2_random_walk")
def g2_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 seeded random walk from the lexicographically-first habitat.
    Seeded → deterministic rows, but the walk is iterative/stateful →
    rows-only check (SURVEY §5 rule on randomized ops)."""
    adj = _adjacency(spark, sf_dir)
    start = sorted(adj)[0]
    path = random_walk(adj, start, steps=10, seed=42)
    return spark.createDataFrame(
        [(i, h) for i, h in enumerate(path)], "step int, habitat string"
    )


def _hash_step_index(cur: str, step: int, degree: int) -> int:
    """Deterministic neighbor index: ascii of the first md5 hex digit of
    ``"{cur}:{step}"`` mod degree — reproducible in ANSI SQL
    (``ascii(substring(md5(...),1,1)) % degree``), so the walk itself is
    oracle-checkable, unlike a seeded PRNG."""
    import hashlib

    return ord(hashlib.md5(f"{cur}:{step}".encode()).hexdigest()[0]) % degree


@query(
    "g2_hash_walk",
    oracle=f"""
    WITH RECURSIVE
    nodes AS ({_NODES_SQL}),
    e AS (
        SELECT a.habitat AS src, b.habitat AS dst
        FROM nodes a JOIN nodes b ON a.habitat <> b.habitat
        WHERE ROUND({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 3) <= 15000.0
    ),
    nbrs AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
               count(*) OVER (PARTITION BY src) AS deg
        FROM e
    ),
    walk(step, habitat) AS (
        SELECT 0, (SELECT min(habitat) FROM nodes)
        UNION ALL
        SELECT w.step + 1, n.dst
        FROM walk w
        JOIN nbrs n ON n.src = w.habitat
         AND n.rnk = ascii(substring(md5(w.habitat || ':' ||
                                         CAST(w.step AS VARCHAR)), 1, 1))
                     % n.deg
        WHERE w.step < 10
    )
    SELECT CAST(step AS INT) AS step, habitat FROM walk
    """,
)
def g2_hash_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 with a fully oracle-checkable walk: the neighbor choice is a
    deterministic hash of (current node, step) over the
    lexicographically-ranked neighbor list, replacing the seeded PRNG of
    ``g2_random_walk`` (kept for reference parity,
    random_walk_utils.py:33-47).  The DuckDB oracle replays the SAME
    walk with a recursive CTE — graph construction, neighbor ranking,
    hash choice, and sink early-stop all verified end to end."""
    adj = _adjacency(spark, sf_dir)
    # Start = min over ALL nodes (matching the oracle's min(habitat)
    # FROM nodes) — not min over edge-touched nodes: an isolated first
    # habitat yields a one-row walk, same as the oracle's recursive CTE
    # finding no neighbors.
    start = habitat_nodes(spark, sf_dir).agg(F.min("habitat")).collect()[0][0]
    path = [start]
    cur = start
    for step in range(10):
        nbrs = adj.get(cur, [])
        if not nbrs:
            break
        cur = nbrs[_hash_step_index(cur, step, len(nbrs))][0]
        path.append(cur)
    return spark.createDataFrame(
        [(i, h) for i, h in enumerate(path)], "step int, habitat string"
    )


@query(
    "g3_walk_frequencies",
    oracle=f"""
    WITH RECURSIVE
    nodes AS ({_NODES_SQL}),
    e AS (
        SELECT a.habitat AS src, b.habitat AS dst
        FROM nodes a JOIN nodes b ON a.habitat <> b.habitat
        WHERE ROUND({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}, 3) <= 15000.0
    ),
    nbrs AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
               count(*) OVER (PARTITION BY src) AS deg
        FROM e
    ),
    walk(r, step, habitat) AS (
        SELECT u.r, 0, (SELECT min(habitat) FROM nodes)
        FROM unnest(generate_series(0, 99)) AS u(r)
        UNION ALL
        SELECT w.r, w.step + 1, n.dst
        FROM walk w
        JOIN nbrs n ON n.src = w.habitat
         AND n.rnk = ascii(substring(md5(w.habitat || ':' ||
                                         CAST(w.step AS VARCHAR) || ':' ||
                                         CAST(w.r AS VARCHAR)), 1, 1))
                     % n.deg
        WHERE w.step < 10
    ),
    counts AS (
        SELECT habitat, count(*) AS visits FROM walk GROUP BY habitat
    )
    SELECT habitat, visits,
           ROUND(CAST(visits AS DOUBLE)
                 / (SELECT SUM(visits) FROM counts) * 100, 6) AS pct
    FROM counts
    ORDER BY visits DESC, habitat
    """,
)
def g3_walk_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 walk-frequency analysis (consultas.py:258-287): R=100 walks →
    per-habitat visit count + percentage, most-common order.  The
    Counter/pct math is the A8 frequency shape; the walk simulation is
    driver-local over the vocabulary-sized graph.  Walk r's neighbor
    choice hashes (node, step, r) — the same portable-determinism
    upgrade as g2_hash_walk, so the DuckDB oracle replays ALL 100 walks
    with one recursive CTE and checks the full frequency table."""
    import hashlib

    adj = _adjacency(spark, sf_dir)
    # Same start convention as g2_hash_walk: min over ALL nodes, so the
    # engine and the oracle agree even if that habitat has no edges.
    start = habitat_nodes(spark, sf_dir).agg(F.min("habitat")).collect()[0][0]
    visits: list[tuple[str]] = []
    for r in range(100):
        cur = start
        visits.append((cur,))
        for step in range(10):
            nbrs = adj.get(cur, [])
            if not nbrs:
                break
            h = hashlib.md5(f"{cur}:{step}:{r}".encode()).hexdigest()
            cur = nbrs[ord(h[0]) % len(nbrs)][0]
            visits.append((cur,))
    vdf = spark.createDataFrame(visits, "habitat string")
    from pyspark.sql import Window as W

    counts = vdf.groupBy("habitat").agg(F.count("*").alias("visits"))
    total = F.sum("visits").over(W.partitionBy())
    return (
        counts.withColumn(
            "pct", F.round(F.col("visits").cast("double") / total * 100, 6)
        )
        .orderBy(F.desc("visits"), "habitat")
    )


# --- G2 (scale path): distributed hash-deterministic walk -------------------


def walk_distributed(
    spark: SparkSession, edges: DataFrame, start: str, steps: int, seed: int
) -> DataFrame:
    """Random walk as iterative frontier⋈edges joins — the
    distributed form of G2 for graphs too large to collect.  The
    "random" neighbor choice is hash-deterministic:
    ``xxhash64(current, step, seed) % degree`` over the
    lexicographically-ranked neighbor list, so the distributed walk is
    reproducible and testable against an independent local simulation
    (same rule, no Spark).  Each step is one broadcast join against the
    (small) frontier; at 100 TB the frontier generalizes to millions of
    concurrent walks — same plan, frontier just gets rows."""
    und = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    from pyspark.sql import Window as W

    wd = W.partitionBy("src").orderBy("dst")
    adj = und.select(
        "src",
        "dst",
        (F.row_number().over(wd) - 1).alias("idx"),
        F.count("*").over(W.partitionBy("src")).alias("degree"),
    )
    frontier = spark.createDataFrame([(0, start)], "step int, habitat string")
    path = frontier
    for t in range(steps):
        pick = F.pmod(
            F.xxhash64(F.col("habitat"), F.lit(t), F.lit(seed)), F.col("degree")
        )
        nxt = (
            frontier.join(adj, frontier.habitat == adj.src)
            .where(F.col("idx") == pick)
            .select((F.col("step") + 1).alias("step"), F.col("dst").alias("habitat"))
        )
        frontier = nxt
        path = path.unionAll(frontier)
    return path.orderBy("step")


@query("g2_walk_distributed")
def g2_walk_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed G2: 10-step hash-deterministic walk from the
    lexicographically-first habitat via iterative frontier joins.
    rows-only (graph-shape-dependent); equality with an independent
    local simulation of the same choice rule is tested."""
    edges = habitat_edges(spark, sf_dir)
    start_row = edges.select(F.least("src", "dst").alias("h")).orderBy("h").limit(1).collect()
    start = start_row[0]["h"]
    return walk_distributed(spark, edges, start, steps=10, seed=42)


# --- G1b: first-seen node coordinates (strict reference semantics) ----------


@query(
    "g1b_first_seen_nodes",
    oracle="""
    SELECT event_type AS habitat,
           ROUND(value, 6) AS first_value,
           event_id AS first_event_id
    FROM events
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) = 1
    """,
)
def g1b_first_seen_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict reference parity for G1's node attributes: the FIRST-seen
    value per habitat (random_walk_utils.py:12-19 keeps the first
    arrival's coordinates).  Arrival order is made explicit as
    (ts, event_id); the argmin is one min(struct) hash-agg — partial
    aggregation keeps it map-side, no window shuffle of raw events."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy(F.col("event_type").alias("habitat")).agg(
        F.min(
            F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
        ).alias("m")
    )
    return m.select(
        "habitat",
        F.round(F.col("m.value"), 6).alias("first_value"),
        F.col("m.event_id").alias("first_event_id"),
    )


_PAGERANK_ITERS = 15
_PAGERANK_DAMPING = 0.85


def _pagerank_oracle(iters: int = _PAGERANK_ITERS,
                     d: float = _PAGERANK_DAMPING) -> str:
    """Unrolled power-iteration oracle: one chained CTE per iteration
    replaying rank(v) = (1-d)/N + d*(Σ inflow + dangling/N) exactly —
    feasible because the iteration count is FIXED (tol=0 on the Spark
    side) and the habitat graph is vocabulary-sized.  Recursive CTEs
    cannot aggregate over their own working table, so unrolling is the
    honest SQL form of a fixed-point loop."""
    hav = HAVERSINE_SQL.format(
        lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon"
    )
    parts = [
        f"""
    WITH nodes AS MATERIALIZED ({_NODES_SQL}),
    e0 AS MATERIALIZED (
        SELECT a.habitat AS src, b.habitat AS dst
        FROM nodes a JOIN nodes b ON a.habitat < b.habitat
        WHERE ROUND({hav}, 3) <= 15000.0
    ),
    sym AS MATERIALIZED (
        SELECT src, dst FROM e0
        UNION ALL SELECT dst AS src, src AS dst FROM e0
    ),
    verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),
    deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
    it0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM nn) AS r FROM verts)"""
    ]
    for k in range(1, iters + 1):
        prev = f"it{k - 1}"
        parts.append(
            f""",
    it{k} AS MATERIALIZED (
        SELECT verts.v,
               (1.0 - {d}) / (SELECT n FROM nn)
               + {d} * (COALESCE(c.inflow, 0)
                   + (SELECT COALESCE(SUM(p.r), 0) FROM {prev} p
                      WHERE p.v NOT IN (SELECT src FROM deg))
                     / (SELECT n FROM nn)) AS r
        FROM verts LEFT JOIN (
            SELECT e.dst AS v, SUM(p.r / dg.outdeg) AS inflow
            FROM {prev} p
            JOIN deg dg ON p.v = dg.src
            JOIN sym e ON e.src = p.v
            GROUP BY e.dst
        ) c ON verts.v = c.v
    )"""
        )
    parts.append(
        f"""
    SELECT v, ROUND(r, 6) AS "rank" FROM it{iters} ORDER BY v"""
    )
    return "".join(parts)


@query("g5_pagerank_habitats", oracle=_pagerank_oracle())
def g5_pagerank_habitats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE PageRank over the habitat graph — the algorithm the
    reference's pageRank.py *names* but does not implement (it computes
    a per-species weighted score with no graph; that faithful scoring
    is a7_weighted_species_score).  Directed edges = habitat pairs
    within threshold (both orientations, so the chain degenerates to
    the undirected case on this graph); power iteration with damping
    0.85 in dataflow (functions/pagerank.py), numpy-verified in
    tests/test_pagerank.py.  Oracle-checked: a FIXED iteration count
    (tol=0) lets DuckDB replay every iteration as an unrolled CTE
    chain; round(6) absorbs sub-ulp partial-aggregation order noise."""
    from ..functions.pagerank import pagerank

    edges = habitat_edges(spark, sf_dir).select(
        F.col("src").alias("src"), F.col("dst").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    verts = (
        sym.select(F.col("src").alias("v"))
        .union(sym.select(F.col("dst").alias("v")))
        .distinct()
    )
    ranks = pagerank(
        verts, sym, damping=_PAGERANK_DAMPING,
        max_iter=_PAGERANK_ITERS, tol=0.0,
    )
    return ranks.select("v", F.round("rank", 6).alias("rank")).orderBy("v")


# --- G6: triangle counting over the token co-occurrence graph ----------------


def triangle_corners_naive(edges: DataFrame) -> DataFrame:
    """Triangle enumeration over canonical (a < b) edges by the plain
    two-path join e1(a,b) ⋈ e2(b,c) closed by e3(a,c).  Each triangle
    a < b < c is found exactly once.  Kept as the reference form the
    degree-oriented path is tested against (tests/test_graph.py): on a
    skewed graph its two-path fan-out is Σ deg(v)² — a single hub of
    degree d contributes d² pairs, the scale killer the orientation
    removes."""
    return (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            edges.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )


def triangle_corners_oriented(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration (the 100 TB form): each
    undirected edge is stored LOW-degree endpoint first under the
    strict total order ≺ = (degree, node id), so every node's out-
    neighborhood has size ≤ max(degree of higher-ordered nodes) and
    the two-path fan-out is bounded by O(|E|·arboricity) — a hub of
    degree d stops generating d² wedge pairs because almost all its
    edges point INTO it (Suri & Vassilvitskii 2011, "Counting
    triangles and the curse of the last reducer").  A triangle
    u ≺ v ≺ w is found exactly once as out-edges (u→v, u→w) closed by
    (v→w).  Costs one extra degree aggregation + broadcast-sized join
    versus the naive form; same output."""
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        edges.join(deg.withColumnRenamed("n", "a"), "a")
        .withColumnRenamed("deg", "da")
        .join(
            deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b"
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    ).localCheckpoint(eager=False)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    lt = (F.col("e1.ddeg") < F.col("e2.ddeg")) | (
        (F.col("e1.ddeg") == F.col("e2.ddeg"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    return (
        e1.join(e2, (F.col("e2.src") == F.col("e1.src")) & lt)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )


@query(
    "g6_cooccurrence_triangles",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    edges AS (
        SELECT DISTINCT x.tok AS a, y.tok AS b
        FROM tok x JOIN tok y
          ON x.doc_id = y.doc_id AND x.tok < y.tok
    ),
    tri AS (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, count(*) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node
    ORDER BY node
    """,
)
def g6_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the token co-occurrence graph
    (edge = two tokens appearing in the same document) — the classic
    clustering-coefficient primitive the reference's habitat graph is
    too small (≤4 nodes) to exercise.

    Runs the DEGREE-ORDERED orientation (triangle_corners_oriented):
    the wedge join fans out along each node's ≺-out-neighborhood,
    bounded by arboricity instead of raw degree, which is what
    survives a power-law token graph at 100 TB; per-node counts come
    from exploding each triangle to its three corners (a triangle's
    corner SET is orientation-independent, pinned equal to the naive
    two-path form in tests/test_graph.py on both the corpus and a
    skewed hub graph).  Per-doc ``array_distinct`` bounds the pair
    fan-out at distinct-tokens²; the edge set dedups before the triple
    join, so the join inputs are the graph, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
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
        # Materialize the (small) edge set once: the degree aggregate
        # and the triangle closure all reference it, and without this
        # every leg re-runs the corpus scan + pair self-join.
        # eager=False keeps query construction lazy (explain/plan
        # tests must not trigger a full corpus scan); it computes
        # exactly once at the first action.
        .localCheckpoint(eager=False)
    )
    tri = triangle_corners_oriented(edges)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("node")
    )


# --- G7: user co-presence communities (connected components) -----------------


@query(
    "g7_user_components",
    oracle="""
    WITH RECURSIVE
    ev AS (
        SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                        event_type, user_id
        FROM events WHERE user_id < 300
    ),
    p AS (
        SELECT a.user_id AS src, b.user_id AS dst
        FROM ev a JOIN ev b
          ON a.h = b.h AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
    walk(v, lbl) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.v
    )
    SELECT v AS user_id, CAST(min(lbl) AS BIGINT) AS component,
           (v = min(lbl)) AS is_root
    FROM walk GROUP BY v ORDER BY user_id
    """,
)
def g7_user_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User co-presence communities: users sharing the SAME
    (hour, event_type) activity bucket at least 5 distinct times are
    linked, and the link graph is closed into connected components —
    the audience-clustering / sybil-group analysis a platform runs on
    interaction logs, and the third consumer of the engine's
    distributed CC machinery (after d5/d5b's dedup closure), here over
    BEHAVIORAL edges instead of content similarity.

    Mechanism: bucket co-membership is a self-join on the bucket key
    (banded — never all-pairs; a bucket of m users yields m² pairs, so
    the hour×type key plays the LSH band's role of bounding the
    quadratic), pair weights are distinct-bucket counts with a ≥5
    support threshold — calibrated so the graph has real multi-
    component structure (7 components at sf0.01, 3 at sf0.1; the
    sf0.001 smoke slice is legitimately empty — too few events per
    user pair to clear support), then
    two-phase large-star/small-star components (functions/cc.py,
    O(log n) rounds; the ≤1M-edge union-find fast path fires at these
    caps).  The declared form caps user_id < 300 so the oracle's
    recursive min-label walk stays affordable (the d3b/d10 convention);
    the mechanism is cap-free — d5 runs the identical closure uncapped.

    Oracle: DuckDB replays bucketing, pair support, and the transitive
    closure itself via the recursive min-label fixpoint (d5b's
    device)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    return user_copresence_components(ev)


def user_copresence_components(ev: DataFrame) -> DataFrame:
    """Cap-free co-presence closure mechanism (g7's engine, split out so
    tools/stress_funnel.py can measure it at growing user counts without
    the declared query's oracle-affordability cap): distinct
    (hour, event_type, user) buckets → banded self-join on the bucket
    key → ≥5-distinct-bucket support threshold → two-phase
    large-star/small-star connected components."""
    buckets = ev.select(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
        "event_type",
        "user_id",
    ).distinct()
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .agg(F.count("*").alias("nb"))
        .where(F.col("nb") >= 5)
        .select("src", "dst")
    )
    from ..functions.cc import connected_components

    labels = connected_components(None, pairs)
    return labels.select(
        F.col("v").alias("user_id"),
        F.col("component").cast("long").alias("component"),
        (F.col("v") == F.col("component")).alias("is_root"),
    ).orderBy("user_id")


# --- G8: cell-banded geo radius join (round 6) --------------------------------
#
# g1's habitat graph theta-joins a MODEL-SIZED node table; this is the
# same radius predicate over a LARGE point set, where all-pairs is
# quadratic death and the scale plan is grid-cell banding (the
# geospatial twin of j28's interval bands): 1°x1° cells are >= 50 km in
# both axes for |lat| <= 60, so every <=50 km pair lands in adjacent
# cells, one side explodes into its 3x3 neighborhood (longitude
# wrapping mod 360), the join is EQUI on the cell key, and the exact
# haversine runs only on neighbor-cell candidates.  Each qualifying
# pair matches exactly once (a unique (dlat, dlon) offset), so no
# DISTINCT is needed.  The oracle is the PLAIN quadratic theta join —
# banding provably invisible.

_G8_RADIUS_KM = 50.0


def _g8_points_sql() -> str:
    u = "CAST(user_id AS VARCHAR)"
    h = f"md5('geo:' || {u})"
    return f"""
        SELECT user_id,
               CAST(('0x' || substring({h}, 1, 8)) AS UBIGINT)
                   % 120000000 AS lat_shift_u,
               CAST(('0x' || substring({h}, 9, 8)) AS UBIGINT)
                   % 360000000 AS lon_shift_u
        FROM (SELECT DISTINCT user_id FROM events)
    """


@query(
    "g8_geo_neighbor_join",
    oracle=f"""
    WITH pts AS (
        SELECT user_id,
               CAST(lat_shift_u AS BIGINT) / 1000000.0 - 60.0 AS lat,
               CAST(lon_shift_u AS BIGINT) / 1000000.0 - 180.0 AS lon
        FROM ({_g8_points_sql()})
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           ROUND({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon',
                                       lat2='b.lat', lon2='b.lon')}, 3)
               AS dist_km
    FROM pts a JOIN pts b ON a.user_id < b.user_id
    WHERE ROUND({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon',
                                      lat2='b.lat', lon2='b.lon')}, 3)
          <= {_G8_RADIUS_KM}
    ORDER BY user_a, user_b
    """,
)
def g8_geo_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within 50 km over md5-derived user coordinates
    (lat in [-60, 60) — 1° of longitude is >= 55.6 km there, so the
    1°x1° grid is a complete blocking key for the 50 km radius).
    Mechanism: integer micro-degree points, cell = shifted-degree
    floor (non-negative, so truncating div IS floor), the b side
    posexplodes into its 9 neighbor cells with longitude wrap, equi-
    join on the cell, exact rounded haversine residual.  At 100 TB
    the equi-join shuffles on the cell key and each cell's candidate
    set stays local — the plan every geospatial engine (Sedona's
    KDB/quad partitioning, BigQuery's S2 join) reduces to.  Oracle =
    the plain quadratic theta join over the same points."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.concat(F.lit("geo:"), F.col("user_id").cast("string")))
    pts = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
                F.lit(120_000_000),
            ).alias("lat_u"),
            F.pmod(
                F.conv(F.substring(h, 9, 8), 16, 10).cast("long"),
                F.lit(360_000_000),
            ).alias("lon_u"),
        )
        .select(
            "user_id",
            (F.col("lat_u") / 1_000_000.0 - 60.0).alias("lat"),
            (F.col("lon_u") / 1_000_000.0 - 180.0).alias("lon"),
            F.expr("lat_u div 1000000").cast("int").alias("clat"),
            F.expr("lon_u div 1000000").cast("int").alias("clon"),
        )
    )
    a = pts.select(
        F.col("user_id").alias("user_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.col("clat").alias("cell_lat"),
        F.col("clon").alias("cell_lon"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dl).alias("dl"), F.lit(dn).alias("dn"))
            for dl in (-1, 0, 1)
            for dn in (-1, 0, 1)
        ]
    )
    b = pts.select(
        F.col("user_id").alias("user_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        "clat",
        "clon",
        F.explode(offsets).alias("o"),
    ).select(
        "user_b",
        "lat_b",
        "lon_b",
        (F.col("clat") + F.col("o.dl")).alias("cell_lat"),
        F.pmod(F.col("clon") + F.col("o.dn") + 360, F.lit(360)).alias("cell_lon"),
    )
    dist = F.round(
        haversine_km(
            F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
        ),
        3,
    )
    return (
        a.join(b, ["cell_lat", "cell_lon"])
        .where((F.col("user_a") < F.col("user_b")) & (dist <= _G8_RADIUS_KM))
        .select("user_a", "user_b", dist.alias("dist_km"))
        .orderBy("user_a", "user_b")
    )


# --- G9: k-core decomposition by iterative peeling (round 7) -------------------
#
# The degeneracy/k-core primitive (Seidman 1983; Batagelj-Zaversnik
# peeling) — the graph-analytics counterpart of the dedup funnels'
# fixpoint loops: repeatedly delete every vertex whose degree WITHIN
# the surviving subgraph is below k until nothing changes.  The result
# (the maximal subgraph of minimum degree >= k) is ORDER-INDEPENDENT —
# peeling in any order converges to the same core, which is what makes
# a distributed bulk peel (drop ALL under-k vertices each round)
# correct and oracle-checkable.

_G9_SUPPORT = 4  # co-presence buckets required for an edge


def copresence_support_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-{s} co-presence user pairs (s < d) — g7's banded
    (hour, event_type) bucket join with a HAVING-count support filter.
    Factored out of g9 (round 8) so g10's link prediction runs on the
    identical edge set; g9's declared result is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    # The pair join's shuffle keys (h, event_type) carry tiny BYTES but
    # the join output is quadratic per bucket, so AQE coalesces the
    # exchange by size and the pair generation + partial aggregation
    # ran in ONE task (~1.3 s serial at sf0.1 — guide §2.2/§2.5:
    # partition count must track compute, not bytes).  A keyed
    # REPARTITION_BY_NUM is never coalesced by AQE; (h, event_type) is
    # ~3600-distinct here and grows with the time span, so it spreads
    # over any core count.  Bonus: the distinct's grouping keys are a
    # superset of the partitioning keys and the self-join's equi-keys
    # ARE the partitioning keys, so both reuse this single exchange
    # (guide §2.4: operations keyed the same way share one exchange).
    par = spark.sparkContext.defaultParallelism
    buckets = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
            "event_type",
            "user_id",
        )
        .repartition(par, "h", "event_type")
        .distinct()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("s"), F.col("b.user_id").alias("d")
        )
        .agg(F.count("*").alias("nb"))
        .where(F.col("nb") >= _G9_SUPPORT)
        .select("s", "d")
    )


copresence_support_pairs.__doc__ = copresence_support_pairs.__doc__.format(
    s=_G9_SUPPORT
)


def _symmetrize(pairs: DataFrame, a: str = "u", b: str = "w") -> DataFrame:
    """Both edge orientations of an (s, d) pair table in ONE pass —
    ``explode`` of a 2-struct array.  The previous idiom,
    ``pairs.select(s,d).unionByName(pairs.select(d,s))``, re-evaluates
    the whole pairs lineage once per union leg (the sim13 edges
    lesson); this emits the identical bag of rows from a single
    evaluation."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias(a), F.col("d").alias(b)),
                F.struct(F.col("d").alias(a), F.col("s").alias(b)),
            )
        ).alias("e")
    ).select(f"e.{a}", f"e.{b}")
_G9_MAX_PEELS = 12  # oracle unroll depth; parity fails LOUDLY if exceeded


def _g9_oracle() -> str:
    """Unrolled bulk-peel replay: a{i} = vertices alive after i rounds,
    d{i} = within-a{i-1} degrees.  Each level is MATERIALIZED (each
    a{i} feeds BOTH endpoint semijoins of the next level — the
    tokenizer-tower lesson).  k is count-adaptive: E div V + 1, one
    more than half the average degree, so the query tracks corpus
    density instead of going vacuous (semdedup's count-derived-k
    device).  The final SELECT takes degrees within a{N} filtered to
    >= k, which equals the fixpoint core's degree table only if
    peeling CONVERGED within N rounds — a truncated oracle would
    disagree with the engine's true fixpoint, so non-convergence fails
    parity loudly instead of silently truncating."""
    n = _G9_MAX_PEELS
    parts = [
        f"""
    WITH b AS MATERIALIZED (
        SELECT DISTINCT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               event_type, user_id
        FROM events
    ),
    p AS MATERIALIZED (
        SELECT x.user_id AS s, y.user_id AS d
        FROM b x JOIN b y
          ON x.h = y.h AND x.event_type = y.event_type
         AND x.user_id < y.user_id
        GROUP BY 1, 2
        HAVING count(*) >= {_G9_SUPPORT}
    ),
    e AS MATERIALIZED (
        SELECT s AS u, d AS w FROM p UNION ALL SELECT d, s FROM p
    ),
    vk AS MATERIALIZED (
        SELECT CAST((SELECT count(*) FROM p)
                    // (SELECT count(DISTINCT u) FROM e) + 1 AS BIGINT) AS k
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT u FROM e)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
        SELECT e.u, CAST(count(*) AS BIGINT) AS cnt
        FROM e JOIN a{i - 1} x ON x.u = e.u
               JOIN a{i - 1} y ON y.u = e.w
        GROUP BY e.u
    ),
    a{i} AS MATERIALIZED (
        SELECT u FROM d{i}, vk WHERE cnt >= vk.k
    )"""
        )
    parts.append(
        f""",
    fin AS (
        SELECT e.u, CAST(count(*) AS BIGINT) AS core_degree
        FROM e JOIN a{n} x ON x.u = e.u
               JOIN a{n} y ON y.u = e.w
        GROUP BY e.u
    )
    SELECT u AS user_id, core_degree, (SELECT k FROM vk) AS k
    FROM fin, vk WHERE core_degree >= vk.k
    ORDER BY user_id"""
    )
    return "".join(parts)


@query("g9_kcore_peel", oracle=_g9_oracle())
def g9_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the user co-presence graph by distributed bulk
    peeling: build support-{s} co-presence edges (g7's banded bucket
    join), set k = E div V + 1 (one past half the average degree —
    count-adaptive so the core is non-vacuous at every scale), then
    repeatedly drop ALL vertices whose within-subgraph degree is
    below k until a fixpoint.  Output is the core members with their
    in-core degrees — the dense-community backbone extraction used
    for influence analysis and as a community-detection seed.

    Scale shape: each peel round is two semi-joins of the (checkpointed)
    edge list against the shrinking alive set plus one partial-
    aggregated degree count — all keyed shuffles, no global state; the
    driver sees only the per-round survivor COUNT (the pagerank-loop
    discipline), and lineage is truncated per round by localCheckpoint.
    Bulk peeling converges in O(peel-width) rounds regardless of vertex
    order because the k-core is order-independent.  The oracle unrolls
    {n} bulk rounds with a built-in convergence guard: if the engine's
    fixpoint needed more than {n}, the oracle's truncated core would
    mismatch and parity fails loudly."""
    pairs = copresence_support_pairs(spark, sf_dir)
    edges = _symmetrize(pairs).localCheckpoint(eager=True)
    n_e = edges.count() // 2
    alive = edges.select("u").distinct().localCheckpoint(eager=True)
    n_v = alive.count()
    k = n_e // n_v + 1  # same integer derivation the oracle replays

    def degrees(al: DataFrame) -> DataFrame:
        return (
            edges.join(al, "u")
            .join(al.withColumnRenamed("u", "w"), "w")
            .groupBy("u")
            .agg(F.count("*").cast("long").alias("core_degree"))
        )

    # Peel to the TRUE fixpoint — the engine must NOT share the
    # oracle's _G9_MAX_PEELS truncation, or a graph needing more
    # rounds would yield the same truncated non-core on both sides and
    # parity would pass silently (ADVICE r7).  The alive set strictly
    # shrinks every non-fixpoint round, so the loop terminates in at
    # most n_v rounds; the n_v + 1 cap is a defensive impossibility
    # guard, not a semantic bound.
    n_alive = n_v
    for _ in range(n_v + 1):
        survivors = (
            degrees(alive).where(F.col("core_degree") >= k).select("u")
        ).localCheckpoint(eager=True)
        n_next = survivors.count()
        if n_next == n_alive:
            break
        alive, n_alive = survivors, n_next
    else:  # pragma: no cover - mathematically unreachable
        raise RuntimeError("g9 bulk peeling failed to reach a fixpoint")
    return (
        degrees(alive)
        .where(F.col("core_degree") >= k)
        .select(
            F.col("u").alias("user_id"),
            "core_degree",
            F.lit(k).cast("long").alias("k"),
        )
        .orderBy("user_id")
    )


g9_kcore_peel.__doc__ = g9_kcore_peel.__doc__.format(
    s=_G9_SUPPORT, n=_G9_MAX_PEELS
)


# --- G10: common-neighbor link prediction (round 8; hub cap round 9) ------------

_G10_HUB_CAP = 128  # wedge-formation adjacency cap per center vertex


@query(
    "g10_link_prediction",
    oracle=f"""
    WITH b AS MATERIALIZED (
        SELECT DISTINCT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               event_type, user_id
        FROM events
    ),
    p AS MATERIALIZED (
        SELECT x.user_id AS s, y.user_id AS d
        FROM b x JOIN b y
          ON x.h = y.h AND x.event_type = y.event_type
         AND x.user_id < y.user_id
        GROUP BY 1, 2
        HAVING count(*) >= {_G9_SUPPORT}
    ),
    e AS MATERIALIZED (
        SELECT s AS u, d AS w FROM p UNION ALL SELECT d, s FROM p
    ),
    ec AS MATERIALIZED (
        SELECT u, w FROM (
            SELECT u, w, row_number() OVER (
                PARTITION BY w
                ORDER BY md5(CAST(w AS VARCHAR) || ':'
                             || CAST(u AS VARCHAR)), u
            ) AS rk FROM e
        ) WHERE rk <= {_G10_HUB_CAP}
    ),
    cn AS (
        SELECT e1.u AS u, e2.u AS v, CAST(count(*) AS BIGINT) AS n_common
        FROM ec e1 JOIN ec e2 ON e1.w = e2.w AND e1.u < e2.u
        GROUP BY 1, 2
    ),
    nonedge AS (
        SELECT cn.u, cn.v, cn.n_common
        FROM cn LEFT JOIN p ON p.s = cn.u AND p.d = cn.v
        WHERE p.s IS NULL
    )
    SELECT u, v, n_common,
           CAST(row_number() OVER (ORDER BY n_common DESC, u, v)
                AS BIGINT) AS rnk
    FROM nonedge ORDER BY n_common DESC, u, v LIMIT 20
    """,
)
def g10_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor LINK PREDICTION on the co-presence graph
    (Liben-Nowell & Kleinberg's strongest simple baseline): for every
    NON-adjacent user pair, score = |N(u) ∩ N(v)| counted by the wedge
    join e(u,w) ⋈ e(w,v), existing edges removed by an anti-join
    against the support pairs, top-20 reported — the
    "people you may know" / graph-completion primitive, run on
    exactly g9's edge set (shared builder, so the two queries describe
    one graph).

    HUB CAP (round 9, VERDICT r8 #6): each wedge CENTER contributes
    wedges only from its {cap} md5-lowest neighbors — the documented
    production mitigation for degree skew, now part of the declared
    (and oracle-replayed) semantics.  The stress harness's planted
    scale-proportional hub measured the caveat before the cap landed:
    at ×10 one hub of degree 292 (58× the median of 5) contributed
    85,264 of 163,476 wedge rows — 52% of the join's volume from one
    vertex, growing ∝ mult² while everything else grows linearly.
    The cap bounds any vertex's wedge contribution at {cap}²,
    restoring linear volume; where every degree is below the cap
    (e.g. the sf0.01 gate corpus, max degree 17) the result is
    IDENTICAL to the uncapped count, and above it the score is the
    standard deterministic-truncation lower bound.

    Scale shape: the cap is one rank-filter window on the edge list
    (edge-keyed shuffle, linear); the wedge join shuffles capped
    edges once on the center key and partial-aggregates wedge counts;
    the anti-join is edge-keyed; the final top-20 is
    TakeOrderedAndProject, never a global sort."""
    pairs = copresence_support_pairs(spark, sf_dir).localCheckpoint(
        eager=True
    )
    edges = _symmetrize(pairs)
    from pyspark.sql import Window as W

    wr = W.partitionBy("w").orderBy(
        F.md5(
            F.concat(
                F.col("w").cast("string"), F.lit(":"), F.col("u").cast("string")
            )
        ),
        "u",
    )
    ec = (
        edges.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= _G10_HUB_CAP)
        .drop("rk")
    )
    e1 = ec.select(F.col("u"), F.col("w"))
    e2 = ec.select(F.col("u").alias("v"), F.col("w").alias("w2"))
    cn = (
        e1.join(e2, F.col("w") == F.col("w2"))
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    nonedge = cn.join(
        pairs.select(F.col("s").alias("u"), F.col("d").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    top = nonedge.orderBy(F.desc("n_common"), "u", "v").limit(20)

    return top.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.desc("n_common"), "u", "v"))
        .cast("long"),
    )


g10_link_prediction.__doc__ = g10_link_prediction.__doc__.format(
    cap=_G10_HUB_CAP
)


# --- G11: community detection by label propagation (round 8) --------------------
#
# Raghavan et al. 2007's LPA — the near-linear community detector
# (GraphFrames/GraphX ship exactly this as labelPropagation) — made
# deterministic and oracle-replayable: synchronous rounds, each vertex
# adopting the label that is MOST FREQUENT among its neighbors with
# ties broken toward the SMALLEST label.  Plain LPA leaves both the
# update order and tie-breaks to chance; pinning them makes the
# R-round result a pure function of the edge set, which is what lets
# DuckDB replay it.  Synchronous LPA can oscillate on bipartite
# structure rather than converge, so — like the library
# implementations, which run a fixed maxIter and document that
# "convergence is not guaranteed" — the DECLARED semantics are exactly
# R rounds, not a fixpoint; g9's convergence-guard pattern does not
# apply because a fixpoint is not part of the contract.

_G11_ROUNDS = 4


def lpa_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the deterministic {R}-round LPA over the support-4
    co-presence graph; returns (pairs, symmetric edges, final labels).
    Factored out of g11 so g12's modularity evaluation scores the
    IDENTICAL partition (the copresence_support_pairs sharing
    pattern)."""
    from pyspark.sql import Window as W

    pairs = copresence_support_pairs(spark, sf_dir)
    edges = _symmetrize(pairs).localCheckpoint(eager=True)
    labels = edges.select("u").distinct().withColumn("lab", F.col("u"))
    for _ in range(_G11_ROUNDS):
        cnt = (
            edges.join(
                labels.withColumnRenamed("u", "w"), "w"
            )  # neighbor labels arrive at u
            .groupBy("u", "lab")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        labels = (
            cnt.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("u").orderBy(F.desc("cnt"), "lab")
                ),
            )
            .where(F.col("rn") == 1)
            .select("u", "lab")
            .localCheckpoint(eager=True)
        )
    return pairs, edges, labels


lpa_labels.__doc__ = lpa_labels.__doc__.format(R=_G11_ROUNDS)


def _lpa_cte() -> str:
    """Shared oracle prefix: co-presence edges + {R} unrolled LPA
    rounds, ending at relation l{R} (u, lab)."""
    parts = [
        """
    WITH b AS MATERIALIZED (
        SELECT DISTINCT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               event_type, user_id
        FROM events
    ),
    p AS MATERIALIZED (
        SELECT x.user_id AS s, y.user_id AS d
        FROM b x JOIN b y
          ON x.h = y.h AND x.event_type = y.event_type
         AND x.user_id < y.user_id
        GROUP BY 1, 2
        HAVING count(*) >= 4
    ),
    e AS MATERIALIZED (
        SELECT s AS u, d AS w FROM p UNION ALL SELECT d, s FROM p
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT u, u AS lab FROM e)"""
    ]
    for i in range(1, _G11_ROUNDS + 1):
        parts.append(
            f""",
    c{i} AS MATERIALIZED (
        SELECT e.u, l.lab, CAST(count(*) AS BIGINT) AS cnt
        FROM e JOIN l{i - 1} l ON l.u = e.w
        GROUP BY 1, 2
    ),
    l{i} AS MATERIALIZED (
        SELECT u, lab FROM (
            SELECT u, lab,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY cnt DESC, lab) AS rn
            FROM c{i}
        ) WHERE rn = 1
    )"""
        )
    return "".join(parts)


def _g11_oracle() -> str:
    return (
        _lpa_cte()
        + f"""
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS size,
           CAST(min(u) AS BIGINT) AS min_member,
           CAST(max(u) AS BIGINT) AS max_member,
           CAST(sum(u) AS BIGINT) AS member_sum
    FROM l{_G11_ROUNDS}
    GROUP BY lab ORDER BY size DESC, community"""
    )


@query("g11_label_propagation", oracle=_g11_oracle())
def g11_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the support-4 co-presence user graph
    (g9/g10's edge set) by {R} synchronous rounds of deterministic
    label propagation: every vertex starts as its own label and each
    round adopts its neighborhood's plurality label, ties toward the
    smallest.  Output is the community table — label, size, member
    min/max/sum — the segmentation primitive feeding cohort analytics
    and the cheap precursor to modularity methods (LPA is the standard
    'communities at near-linear cost' baseline).

    Scale shape: per round, ONE edge-keyed join ships each vertex's
    current label to its neighbors, one partial-aggregated
    (vertex, label) count, and a per-vertex argmax window — all
    partitioned by vertex id, no global state; the label table is
    |V| rows and lineage is cut per round by localCheckpoint (the
    pagerank-loop discipline).  Exactly {R} rounds regardless of
    scale, so the whole job is {R} bounded shuffle waves over the
    edge list — the GraphX labelPropagation dataflow without the
    Pregel runtime.  Determinism: (count DESC, label ASC) is a total
    order per vertex, so both engines converge on identical labels
    round by round; the oracle unrolls all {R} rounds as MATERIALIZED
    CTEs and replays the same argmax."""
    _, _, labels = lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count("*").cast("long").alias("size"),
            F.min("u").cast("long").alias("min_member"),
            F.max("u").cast("long").alias("max_member"),
            F.sum("u").cast("long").alias("member_sum"),
        )
        .orderBy(F.desc("size"), "community")
    )


g11_label_propagation.__doc__ = g11_label_propagation.__doc__.format(
    R=_G11_ROUNDS
)


# --- G12: modularity of the LPA partition (round 8) -----------------------------


def _g12_oracle() -> str:
    return (
        _lpa_cte()
        + f""",
    deg AS MATERIALIZED (
        SELECT u, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY u
    ),
    dc AS MATERIALIZED (
        SELECT l.lab, CAST(sum(dg) AS BIGINT) AS d_c
        FROM deg JOIN l{_G11_ROUNDS} l ON l.u = deg.u
        GROUP BY 1
    ),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
    win AS (
        SELECT CAST(count(*) AS BIGINT) AS w
        FROM p JOIN l{_G11_ROUNDS} a ON a.u = p.s
               JOIN l{_G11_ROUNDS} b ON b.u = p.d
        WHERE a.lab = b.lab
    ),
    ds AS (SELECT CAST(sum(d_c * d_c) AS BIGINT) AS dsq,
                  CAST(count(*) AS BIGINT) AS n_comm FROM dc)
    SELECT mm.m, ds.n_comm AS n_communities, win.w AS within_edges,
           ds.dsq AS deg_sq_sum,
           CAST(4 * mm.m * win.w - ds.dsq AS BIGINT) AS q_num,
           CAST(4 * mm.m * mm.m AS BIGINT) AS q_den,
           CAST((1000 * (4 * mm.m * win.w - ds.dsq))
                // (4 * mm.m * mm.m) AS BIGINT) AS q_milli
    FROM mm, win, ds"""
    )


@query("g12_modularity", oracle=_g12_oracle())
def g12_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of g11's LPA partition — the
    standard partition-quality score (Newman 2004): Q = Σ_c [e_c/m −
    (d_c/2m)²], the within-community edge fraction minus what a
    degree-preserving random rewiring would put there; the evaluation
    half of community detection, deciding whether g11's labels carve
    real structure (Q > 0) or noise (Q ≈ 0).  Exactness: Q telescopes
    to the single rational (4m·Σe_c − Σd_c²) / 4m², so the score is
    two exact BIGINT columns (q_num, q_den) plus ONE floor division to
    milli-units — no per-community division, no floats.  The 1000·q_num
    product stays in BIGINT for m up to ~4.8e7 edges; beyond that the
    exact q_num/q_den columns are the contract (the kappa1/ks1
    cross-multiplication discipline).

    Scale shape: runs on lpa_labels' output — two label semijoins of
    the pair list (within-edge count), one degree aggregation, one
    |communities|-row Σd_c², then 1-row arithmetic; everything keyed
    by vertex or community, nothing global."""
    pairs, edges, labels = lpa_labels(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").cast("long").alias("dg"))
    dc = (
        deg.join(labels, "u")
        .groupBy("lab")
        .agg(F.sum("dg").cast("long").alias("d_c"))
    )
    mm = pairs.agg(F.count("*").cast("long").alias("m"))
    win = (
        pairs.join(
            labels.select(F.col("u").alias("s"), F.col("lab").alias("la")),
            "s",
        )
        .join(
            labels.select(F.col("u").alias("d"), F.col("lab").alias("lb")),
            "d",
        )
        .where(F.col("la") == F.col("lb"))
        .agg(F.count("*").cast("long").alias("w"))
    )
    ds = dc.agg(
        F.sum(F.col("d_c") * F.col("d_c")).cast("long").alias("dsq"),
        F.count("*").cast("long").alias("n_comm"),
    )
    return (
        mm.crossJoin(win)
        .crossJoin(ds)
        .select(
            "m",
            F.col("n_comm").alias("n_communities"),
            F.col("w").alias("within_edges"),
            F.col("dsq").alias("deg_sq_sum"),
            F.expr("CAST(4 * m * w - dsq AS BIGINT)").alias("q_num"),
            F.expr("CAST(4 * m * m AS BIGINT)").alias("q_den"),
            F.expr(
                "CAST((1000 * (4 * m * w - dsq)) div (4 * m * m)"
                " AS BIGINT)"
            ).alias("q_milli"),
        )
    )


# --- G13: HITS hubs & authorities (round 9) --------------------------------------
#
# Kleinberg's HITS on the bipartite user → event-type interaction
# graph: authorities = event types that attract the most activity
# from the most-active users, hubs = users whose activity concentrates
# on authoritative types.  Like g11's LPA and m6's power iteration,
# the declared semantics are a FIXED number of synchronous rounds with
# every iterate floor-quantized to integer micro-units (normalized by
# the max instead of the L2 norm — same fixpoint direction, no sqrt),
# which is what lets the DuckDB oracle replay every round exactly.

_G13_ROUNDS = 2  # a1 -> h1 -> a2: two authority waves, one hub wave


@query(
    "g13_hits_authorities",
    oracle="""
    WITH w AS MATERIALIZED (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS w
        FROM events GROUP BY user_id, event_type
    ),
    a1r AS MATERIALIZED (
        SELECT event_type,
               CAST(sum(CAST(w AS HUGEINT) * 1000000) AS HUGEINT) AS ar
        FROM w GROUP BY event_type
    ),
    a1 AS (
        SELECT event_type,
               CAST((1000000 * ar) // (SELECT max(ar) FROM a1r) AS BIGINT)
                   AS a
        FROM a1r
    ),
    h1r AS MATERIALIZED (
        SELECT w.user_id,
               CAST(sum(CAST(w.w AS HUGEINT) * a1.a) AS HUGEINT) AS hr
        FROM w JOIN a1 USING (event_type) GROUP BY w.user_id
    ),
    h1 AS MATERIALIZED (
        SELECT user_id,
               CAST((1000000 * hr) // (SELECT max(hr) FROM h1r) AS BIGINT)
                   AS h
        FROM h1r
    ),
    a2r AS MATERIALIZED (
        SELECT w.event_type,
               CAST(sum(CAST(w.w AS HUGEINT) * h1.h) AS HUGEINT) AS ar,
               CAST(count(*) AS BIGINT) AS n_users
        FROM w JOIN h1 USING (user_id) GROUP BY w.event_type
    )
    SELECT event_type,
           CAST((1000000 * ar) // (SELECT max(ar) FROM a2r) AS BIGINT)
               AS auth_micro,
           n_users
    FROM a2r ORDER BY event_type
    """,
)
def g13_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities over the user → event-type bipartite graph
    after {k} fixed synchronous rounds (a¹ from uniform hubs → hubs h¹
    → a²) — which event types the platform's most-engaged users
    concentrate on, the mutual-reinforcement ranking PageRank (g5)
    can't express on a bipartite interaction graph.  Every iterate is
    floor-quantized to micro-units with max-normalization (the
    m6/surv1 integer-iteration convention; HUGEINT/DECIMAL(38,0) sums
    so no product can wrap at any corpus scale), so all rounds are
    exact cross-engine.

    Scale shape: ONE event scan collapses to the (user, type) weight
    table by partial-aggregated groupBy; each authority wave is an
    8-row aggregate; the hub wave joins the weight table with the
    BROADCAST 8-row authority model and partial-aggregates per user —
    the per-iteration shuffle carries one row per (user, type), never
    raw events.  The weight table is localCheckpointed once and feeds
    all rounds (the bpe1 model-reuse discipline)."""
    w = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    a1r = w.groupBy("event_type").agg(
        F.sum(F.col("w").cast("decimal(38,0)") * 1_000_000)
        .cast("decimal(38,0)")
        .alias("ar")
    )
    m1 = a1r.agg(F.max("ar").alias("mx"))
    a1 = a1r.crossJoin(F.broadcast(m1)).select(
        "event_type",
        F.expr("CAST((1000000 * ar) div mx AS BIGINT)").alias("a"),
    )
    h1r = (
        w.join(F.broadcast(a1), "event_type")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("a"))
            .cast("decimal(38,0)")
            .alias("hr")
        )
        .localCheckpoint(eager=True)
    )
    m2 = h1r.agg(F.max("hr").alias("mx"))
    h1 = h1r.crossJoin(F.broadcast(m2)).select(
        "user_id",
        F.expr("CAST((1000000 * hr) div mx AS BIGINT)").alias("h"),
    )
    a2r = (
        w.join(h1, "user_id")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("h"))
            .cast("decimal(38,0)")
            .alias("ar"),
            F.count("*").cast("long").alias("n_users"),
        )
        .localCheckpoint(eager=True)
    )
    m3 = a2r.agg(F.max("ar").alias("mx"))
    return (
        a2r.crossJoin(F.broadcast(m3))
        .select(
            "event_type",
            F.expr("CAST((1000000 * ar) div mx AS BIGINT)").alias(
                "auth_micro"
            ),
            "n_users",
        )
        .orderBy("event_type")
    )


g13_hits_authorities.__doc__ = g13_hits_authorities.__doc__.format(
    k=_G13_ROUNDS
)


# --- G14: personalized PageRank (round 10) ----------------------------------------
#
# Random walk with restart on the event-type transition graph (m1's
# (cur, nxt, cnt) relation): ppr = alpha·e_seed + (1-alpha)·Pᵀ·ppr,
# the "related to THIS node" ranking that plain PageRank (g5, global
# importance, rows-only float) cannot express.  Like g13/m6, the
# declared semantics are FIXED synchronous rounds with every iterate
# floor-quantized to integer micro-units: per-edge flow =
# (s_cur · cnt) div out_total (floored per edge), next score =
# seed·150000 + (850 · inflow) div 1000 — alpha = 0.15 as exact
# integer arithmetic, so the DuckDB oracle replays every round and
# the driver hash pins the full iteration (unlike g5, which stays
# rows-only because float pagerank sums are order-dependent).
# Dangling-state mass is dropped identically in both engines (the
# walk restarts instead).  Products stay in BIGINT for per-pair
# transition counts up to ~8e12; beyond that the flow product moves
# to DECIMAL(38,0) with the same floor (the g13 device).

_G14_ROUNDS = 3
_G14_ALPHA_MILLI = 150  # restart probability 0.15
_G14_MAX_STATES = 256  # declared event_type state-space cap (driver model)


def _g14_oracle(rounds: int = _G14_ROUNDS) -> str:
    a = _G14_ALPHA_MILLI
    ctes = []
    prev = "s0"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""
    r{t} AS (
        SELECT p.nxt AS st,
               CAST(sum((CAST(s.s AS BIGINT) * p.cnt) // t.tot)
                    AS BIGINT) AS raw
        FROM pairs p
        JOIN tot t ON t.cur = p.cur
        JOIN {prev} s ON s.st = p.cur
        WHERE s.s > 0
        GROUP BY 1
    ),
    s{t} AS (
        SELECT st.st,
               CAST(CASE WHEN st.st = (SELECT sd FROM seed)
                         THEN {a * 1000} ELSE 0 END
                    + ({1000 - a} * coalesce(r.raw, 0)) // 1000
                    AS BIGINT) AS s
        FROM states st LEFT JOIN r{t} r ON r.st = st.st
    )"""
        )
        prev = f"s{t}"
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT user_id, event_type AS cur,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS nxt
            FROM events
        ) WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, CAST(sum(cnt) AS BIGINT) AS tot
            FROM pairs GROUP BY cur),
    states AS (SELECT DISTINCT event_type AS st FROM events),
    seed AS (SELECT min(st) AS sd FROM states),
    s0 AS (
        SELECT st, CASE WHEN st = (SELECT sd FROM seed)
                        THEN 1000000 ELSE 0 END AS s
        FROM states
    ),{",".join(ctes)}
    SELECT st AS event_type, s AS ppr_micro,
           CAST(row_number() OVER (ORDER BY s DESC, st) AS BIGINT) AS rnk
    FROM {prev} ORDER BY event_type
    """


@query("g14_personalized_pagerank", oracle=_g14_oracle())
def g14_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart, alpha = 0.15)
    from the alphabetically-first event type, over the per-user
    transition graph, after {k} fixed synchronous waves — "which
    states does behavior flow to FROM HERE", the seed-conditioned
    ranking recommendation and fraud pipelines run per entity.  Every
    wave is exact integer arithmetic (per-edge floor of
    (score·cnt) div out_total, restart as 150000 + (850·inflow) div
    1000 micro-units), so the oracle replays the full iteration — the
    graph family's first HASH-SIGNED PageRank-style iteration (g5's
    float pagerank is rows-only by necessity).

    Scale shape: the transition relation collapses from raw events by
    one partial-aggregated window + groupBy and is localCheckpointed
    once; each wave joins it with the BROADCAST |states|-row score
    model and partial-aggregates per destination — the per-wave
    shuffle carries one row per (cur, nxt), never raw events (the
    g13/bpe1 model-reuse discipline).

    Reference analog: extends pageRank.py's ambition (the reference's
    file is the documented misnomer — functions/pagerank.py:1 covers
    the real thing; this adds the personalized, oracle-checked form)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = pairs.groupBy("cur").agg(F.sum("cnt").cast("long").alias("tot"))
    # The iteration state is a MODEL, not data: |event_type| scores and
    # |event_type|² transition edges — both bounded by the state-space
    # cardinality at ANY corpus scale (the m4 DTMC / k-means centroid
    # round-trip device).  The heavy work (raw events → transition
    # counts) stays one distributed partial-aggregated pass; the waves
    # themselves fold on the driver in exact integer arithmetic —
    # identical `div`/`+` on identical BIGINTs, so results are
    # bit-equal to the former per-round join/checkpoint tower, minus
    # ~2 jobs per wave of fixed overhead (guide §1.2: fewer jobs).
    # `states` is EVERY distinct event_type — including ones that never
    # appear in a transition pair (single-event users only) — exactly
    # the relation the former per-round left join preserved rows of.
    # NULL event_types carry no rank mass (the former per-round join
    # gave them score 0 and they cannot seed); dropping them here keeps
    # the collect sortable, and an empty events table yields an empty
    # result instead of a min() ValueError (ADVICE r12).  Both collects
    # are capped by the declared state space (edges are state pairs), so
    # a pathological events table fails loudly instead of OOMing.
    from ..functions.guards import bounded_collect

    states = sorted(
        r[0]
        for r in bounded_collect(
            ev.select("event_type")
            .where(F.col("event_type").isNotNull())
            .distinct(),
            _G14_MAX_STATES,
            "g14 states (distinct event_type)",
        )
    )
    if not states:
        return spark.createDataFrame(
            [], "event_type string, ppr_micro long, rnk long"
        )
    edge_rows = bounded_collect(
        pairs.join(tot, "cur"),
        _G14_MAX_STATES**2,
        "g14 transition edges (|event_type|² model bound)",
    )
    seed = min(states)
    a = _G14_ALPHA_MILLI
    s = {st: (1_000_000 if st == seed else 0) for st in states}
    for _ in range(_G14_ROUNDS):
        raw: dict[str, int] = {}
        for r in edge_rows:
            sv = s.get(r["cur"], 0)
            if sv > 0:
                raw[r["nxt"]] = raw.get(r["nxt"], 0) + (sv * r["cnt"]) // r["tot"]
        s = {
            st: (a * 1000 if st == seed else 0)
            + ((1000 - a) * raw.get(st, 0)) // 1000
            for st in states
        }
    out = spark.createDataFrame(
        [(st, s[st]) for st in states], "event_type string, ppr_micro long"
    )
    wr = W.orderBy(F.desc("ppr_micro"), "event_type")
    return (
        out.select(
            "event_type",
            "ppr_micro",
            F.row_number().over(wr).cast("long").alias("rnk"),
        )
        .orderBy("event_type")
    )


g14_personalized_pagerank.__doc__ = g14_personalized_pagerank.__doc__.format(
    k=_G14_ROUNDS
)


# --- G15: k-truss backbone of the co-presence graph (round 11) ---------------

_G15_T = 2  # required triangles per edge: the 4-truss (k = t + 2)
_G15_MAX_PEELS = 16  # oracle unroll depth; parity fails LOUDLY if exceeded


def _g15_oracle() -> str:
    """Unrolled bulk edge-peel replay: t{i} = edges alive after i
    rounds; each round enumerates triangles over t{i-1} (canonical
    a<b<c — every edge is stored s<d, so e1(a,b)⋈e2(b,c)⋈e3(a,c)
    enumerates each triangle once), explodes them to their three
    edges, and keeps edges with support >= t.  Each level is
    MATERIALIZED (each t{i} feeds all three legs of the next round's
    triple join).  The final SELECT recomputes support within t{N},
    which equals the fixpoint truss only if peeling CONVERGED within
    {n} rounds — a truncated oracle would disagree with the engine's
    true fixpoint, so non-convergence fails parity loudly (the g9
    device, on edges instead of vertices)."""
    n = _G15_MAX_PEELS
    parts = [
        f"""
    WITH b AS MATERIALIZED (
        SELECT DISTINCT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               event_type, user_id
        FROM events
    ),
    t0 AS MATERIALIZED (
        SELECT x.user_id AS a, y.user_id AS b
        FROM b x JOIN b y
          ON x.h = y.h AND x.event_type = y.event_type
         AND x.user_id < y.user_id
        GROUP BY 1, 2
        HAVING count(*) >= {_G9_SUPPORT}
    )"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f""",
    tr{i} AS MATERIALIZED (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM t{i - 1} e1
        JOIN t{i - 1} e2 ON e2.a = e1.b
        JOIN t{i - 1} e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    t{i} AS MATERIALIZED (
        SELECT e.a, e.b
        FROM t{i - 1} e JOIN (
            SELECT a, b, count(*) AS c FROM (
                SELECT a, b FROM tr{i}
                UNION ALL SELECT b, c FROM tr{i}
                UNION ALL SELECT a, c FROM tr{i}
            ) GROUP BY 1, 2
        ) s USING (a, b)
        WHERE s.c >= {_G15_T}
    )"""
        )
    parts.append(
        f""",
    fin_tri AS (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM t{n} e1
        JOIN t{n} e2 ON e2.a = e1.b
        JOIN t{n} e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    fin AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
            SELECT a, b FROM fin_tri
            UNION ALL SELECT b, c FROM fin_tri
            UNION ALL SELECT a, c FROM fin_tri
        ) GROUP BY 1, 2
    )
    SELECT e.a AS u, e.b AS w, coalesce(f.support, 0) AS support
    FROM t{n} e LEFT JOIN fin f ON f.a = e.a AND f.b = e.b
    ORDER BY u, w"""
    )
    return "".join(parts)


def _g15_edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support within ``edges`` (canonical a<b rows):
    enumerate each triangle once via the ID-oriented triple join, then
    explode to its three edges and count."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    return (
        tri.select("a", "b")
        .unionByName(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .unionByName(tri.select("a", F.col("c").alias("b")))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("support"))
    )


@query("g15_k_truss", oracle=_g15_oracle())
def g15_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss backbone of the user co-presence graph (Cohen 2008):
    the maximal subgraph in which EVERY edge closes >= {t} triangles —
    the standard community-backbone object one notch stronger than
    k-core (a k-truss is always inside a (k-1)-core, but prunes
    bridge/hub edges k-core keeps).  Bulk edge-peeling: per round,
    enumerate triangles once (ID-canonical a<b<c triple join — every
    stored edge is s<d), explode each to its three edges, count
    per-edge support, and drop ALL edges below {t}; repeat to the TRUE
    fixpoint.  Output is the surviving edges with their within-truss
    support.

    k is FIXED at 4 (t = {t}), not count-adaptive: the avg-support
    threshold family (3T div E + 1, g9's device) was measured to
    CASCADE the sf0.1 graph to empty — truss peeling is the classic
    demonstration that thresholding at the mean of a right-skewed
    support distribution unravels the whole graph — while the 4-truss
    is non-vacuous at both driver gate scales (6 edges at sf0.01,
    26,643 at sf0.1, fixpoint in 3 / 13 rounds).  Density adaptation
    lives in the support-{s} co-presence edge filter underneath
    (copresence_support_pairs, shared with g9/g10).

    Scale shape: each round is one triangle triple join over the
    CHECKPOINTED surviving edge list (two keyed exchanges), one
    partial-aggregated support count, one filtering join — no global
    state, driver sees only the survivor count per round (the
    g9/pagerank loop discipline).  The ID orientation keeps oracle
    parity exact; the degree-ordered orientation (g6's
    triangle_corners_oriented) is the drop-in replacement when a
    power-law graph makes wedge fan-out the bottleneck at 100 TB.
    The oracle unrolls {n} bulk rounds with the loud convergence
    guard: if the engine's fixpoint needed more, the oracle's
    truncated truss would mismatch and parity fails."""
    pairs = copresence_support_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("s").alias("a"), F.col("d").alias("b")
    ).localCheckpoint(eager=True)
    n_alive = edges.count()
    # Bulk-peel to the true fixpoint; each round strictly shrinks the
    # edge set or stops, so <= n_edges + 1 rounds; the cap is a
    # defensive impossibility guard, not a semantic bound.
    for _ in range(n_alive + 2):
        survivors = (
            edges.join(
                _g15_edge_support(edges).where(F.col("support") >= _G15_T),
                ["a", "b"],
                "left_semi",
            )
        ).localCheckpoint(eager=True)
        n_next = survivors.count()
        if n_next == n_alive:
            break
        edges, n_alive = survivors, n_next
        if n_alive == 0:
            break
    else:  # pragma: no cover - mathematically unreachable
        raise RuntimeError("g15 bulk edge-peeling failed to reach a fixpoint")
    edges = survivors if n_alive == 0 else edges
    final_sup = _g15_edge_support(edges)
    return (
        edges.join(final_sup, ["a", "b"], "left")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("w"),
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        .orderBy("u", "w")
    )


g15_k_truss.__doc__ = g15_k_truss.__doc__.format(
    t=_G15_T, s=_G9_SUPPORT, n=_G15_MAX_PEELS
)


# --- G16: BFS hop distances (single-source shortest path) --------------------

_G16_MAX_HOPS = 16  # oracle recursion cap; parity fails LOUDLY if exceeded
# Frontier rows above which the per-round broadcast hint is dropped in
# favor of a shuffled hash join: 4M bigint keys ~ 32 MB serialized,
# comfortably inside any sane driver/broadcast budget; a BFS level
# bigger than that must shuffle.
_G16_BCAST_FRONTIER_MAX = 4_000_000


def _g16_oracle() -> str:
    """Recursive-CTE replay of the BFS: the walk relation accumulates
    (vertex, hop) pairs with UNION dedup, capped at {n} hops so a
    cyclic graph terminates; min(hop) per vertex is the BFS distance.
    The cap is the loud-convergence device (g9/g15): if the engine's
    fixpoint reaches a vertex beyond {n} hops, the truncated oracle
    is missing it and parity fails instead of silently agreeing."""
    return f"""
    WITH RECURSIVE b AS MATERIALIZED (
        SELECT DISTINCT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               event_type, user_id
        FROM events
    ),
    p AS MATERIALIZED (
        SELECT x.user_id AS s, y.user_id AS d
        FROM b x JOIN b y
          ON x.h = y.h AND x.event_type = y.event_type
         AND x.user_id < y.user_id
        GROUP BY 1, 2
        HAVING count(*) >= {_G9_SUPPORT}
    ),
    sym AS MATERIALIZED (
        SELECT s AS a, d AS b FROM p
        UNION ALL
        SELECT d AS a, s AS b FROM p
    ),
    src AS (SELECT min(a) AS v FROM sym),
    walk(u, hop) AS (
        SELECT v, CAST(0 AS BIGINT) FROM src WHERE v IS NOT NULL
        UNION
        SELECT e.b, w.hop + 1
        FROM walk w JOIN sym e ON e.a = w.u
        WHERE w.hop < {_G16_MAX_HOPS}
    )
    SELECT u, CAST(min(hop) AS BIGINT) AS hop
    FROM walk GROUP BY u ORDER BY hop, u
    """


@query("g16_bfs_hops", oracle=_g16_oracle())
def g16_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances on the co-presence graph — the
    SSSP staple the graph family lacked (rc1 computes REACHABILITY
    closure; walks sample paths; this labels every reachable vertex
    with its exact minimum hop count).  Source = the smallest vertex
    id in the edge set (deterministic in both engines); edges are the
    same support-{s} co-presence pairs g9/g10/g15 share, symmetrized.
    Bulk-synchronous frontier expansion: per round, the frontier
    broadcast/hash-joins the CHECKPOINTED symmetric edge list, new
    vertices (anti-join against the labeled set) become the next
    frontier at hop+1; termination when a frontier is empty — exact,
    at most diameter+1 rounds, no cap needed engine-side.

    Scale shape: the per-round join is frontier-sized against the
    static edge list (the sim13 beam-search property — cost tracks the
    frontier, not the corpus); the labeled set grows to |reachable|
    and only ever feeds an anti-join, which Spark executes as a
    broadcast-hash or shuffled-hash semi-difference on the vertex key.
    At 100 TB the edge list is the one big table and it is scanned
    once per round with the SAME partitioning (a in both legs), so AQE
    reuses the exchange.  The oracle replays BFS as a hop-capped
    recursive CTE with min(hop) per vertex — the cap ({n}) is the
    g9/g15 loud-convergence guard, not a semantic bound.

    Reference analog: extends the G-family (SURVEY §2.9) with the
    textbook BSP graph primitive (Pregel's hello-world)."""
    pairs = copresence_support_pairs(spark, sf_dir)
    sym = _symmetrize(pairs, "a", "b").localCheckpoint(eager=True)
    # One job for both scalars (source vertex + the loop bound) instead
    # of a min-collect followed by a count.
    row = sym.agg(F.min("a").alias("v"), F.count("*").alias("n")).collect()[0]
    if row["v"] is None:  # no edges at this scale: empty labeled set
        return spark.createDataFrame([], "u long, hop long")
    dist = spark.createDataFrame([(row["v"], 0)], "u long, hop long")
    frontier = dist
    frontier_rows = 1
    n_edges = int(row["n"])
    # Each round labels >= 1 new vertex or stops, so <= |V| + 1 rounds;
    # the bound below is a defensive impossibility guard.
    for h in range(1, n_edges + 2):
        # Broadcast the FRONTIER leg (sim13's serving property): sym is
        # the corpus-sized table, one BFS level is usually tiny — the
        # edge list is scanned, never shuffled.  BUT a middle BFS level
        # on a co-presence graph can be a large fraction of |V|, and an
        # unconditional hint above the broadcast limit fails the job at
        # the 100 TB regime — so the hint is gated on the frontier's
        # known row count (free: each level was count()ed last round)
        # and an oversized level falls back to a shuffled hash join.
        fr = (
            F.broadcast(frontier)
            if frontier_rows <= _G16_BCAST_FRONTIER_MAX
            else frontier
        )
        nxt = (
            fr.join(sym, fr["u"] == sym["a"])
            .select(F.col("b").alias("u"))
            .distinct()
            .join(dist, "u", "left_anti")
            .select("u", F.lit(h).cast("long").alias("hop"))
            .localCheckpoint(eager=True)
        )
        frontier_rows = nxt.count()
        if frontier_rows == 0:
            break
        # The labeled set is a lazy union of the already-checkpointed
        # per-round frontiers: each leg is a materialized RDD, so the
        # anti-join scans them without recomputation and no job (or
        # O(|labeled|) copy) is paid per round — the previous eager
        # re-checkpoint of the WHOLE set wrote O(diameter x |V|) rows
        # over the BFS instead of O(|V|) (guide §1.2: don't compute
        # things you throw away).  The union depth is bounded by the
        # graph diameter, so the plan stays small.
        dist = dist.unionByName(nxt)
        frontier = nxt
    else:  # pragma: no cover - mathematically unreachable
        raise RuntimeError("g16 BFS failed to exhaust the frontier")
    return dist.orderBy("hop", "u")


g16_bfs_hops.__doc__ = g16_bfs_hops.__doc__.format(
    s=_G9_SUPPORT, n=_G16_MAX_HOPS
)
