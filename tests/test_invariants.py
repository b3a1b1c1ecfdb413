"""Cross-operator invariants (SURVEY §5.3): partition-sum consistency
between windowed and global aggregates, probability normalization, and
per-record error isolation in the ingest parse path."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def test_tumbling_counts_sum_to_total(spark):
    """Tumbling windows partition the event set: window counts must sum
    to the global count (a1)."""
    from ecostream.queries import QUERIES

    total = QUERIES["a1_total_count"](spark, SF_SMOKE).collect()[0][0]
    summed = (
        QUERIES["a3_tumbling_counts"](spark, SF_SMOKE)
        .agg(F.sum("cnt").alias("s"))
        .collect()[0]["s"]
    )
    assert summed == total, (summed, total)


def test_grouping_sets_grand_total_consistent(spark):
    """The () grouping set row must equal the sum of the per-type rows
    (and the global count)."""
    from ecostream.queries import QUERIES

    rows = QUERIES["r3_grouping_sets"](spark, SF_SMOKE).collect()
    grand = [r for r in rows if r["event_type_g"] == "ALL" and r["day_g"] == "ALL"]
    per_type = [
        r for r in rows if r["event_type_g"] != "ALL" and r["day_g"] == "ALL"
    ]
    assert len(grand) == 1
    assert sum(r["cnt"] for r in per_type) == grand[0]["cnt"]


def test_markov_probabilities_rows_sum_to_one(spark):
    """M2: outgoing transition probabilities from every state sum to 1
    (within rounding)."""
    from ecostream.queries import QUERIES

    rows = (
        QUERIES["m2_markov_probabilities"](spark, SF_SMOKE)
        .groupBy("cur")
        .agg(F.sum("p").alias("s"))
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["s"] - 1.0) < 1e-4, r


def test_ingest_parse_isolates_malformed_records(spark):
    """T7 error isolation: malformed JSON payloads become null structs
    and are filtered — never exceptions (the reference swallows whole
    messages with a bare except, consumer.py:422-423)."""
    from ecostream.schema import INSECT_EVENT_SCHEMA

    good = (
        '{"_id":"x1","insect":{"species":"ant","role":"worker","age":3},'
        '"event":"birth","eventTime":"2024-01-01T00:00:00 Z",'
        '"location":{"habitat":"forest","coordinates":{"latitude":1.0,"longitude":2.0}},'
        '"ecologicalImpact":5,"populationDensity":10}'
    )
    payloads = [good, "{not json", "", "[1,2,3]", "null"]
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    parsed = (
        df.select(F.from_json("value", INSECT_EVENT_SCHEMA).alias("e"))
        .where(F.col("e").isNotNull() & F.col("e._id").isNotNull())
        .select("e.*")
    )
    rows = parsed.collect()
    assert len(rows) == 1
    assert rows[0]["_id"] == "x1"
    assert rows[0]["insect"]["species"] == "ant"


def test_tfidf_retrieval_matches_python_recomputation(spark):
    """t11's integer-scaled tf-idf top-10 must equal an independent
    pure-Python recomputation over the same corpus."""
    from collections import Counter

    from ecostream.queries.text import t11_tfidf_retrieval
    from ecostream.schema import load_table
    from .conftest import SF_SMOKE

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    terms = ["vector", "merge", "scan"]
    n = len(docs)
    df = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    scores = {}
    for doc_id, toks in docs.items():
        c = Counter(toks)
        s = sum(c[t] * (n * 1000 // df[t]) for t in terms if c[t] and df[t])
        if s:
            scores[doc_id] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in t11_tfidf_retrieval(spark, SF_SMOKE).collect()
    ]
    assert got == want


def test_reg1_stats_match_pure_python_and_solve(spark):
    """The normal-equation statistics must equal a pure-Python
    recompute over the raw parquet, and solving them must yield the
    least-squares optimum (gradient b - G w = 0 up to float solve
    precision)."""
    import duckdb
    import numpy as np

    from ecostream.queries.registry import QUERIES

    from .conftest import SF_SMOKE

    rows = duckdb.sql(
        f"SELECT hour(ts), user_id % 7, length(event_type), "
        f"CAST(ROUND(value * 100) AS BIGINT) "
        f"FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    X = np.array([[1, h, u, l] for h, u, l, _ in rows], dtype=np.int64)
    y = np.array([c for *_, c in rows], dtype=np.int64)
    got = {
        (r["i"], r["j"]): r["s"]
        for r in QUERIES["reg1_normal_equations"](spark, SF_SMOKE).collect()
    }
    G = np.zeros((4, 4), dtype=np.int64)
    b = np.zeros(4, dtype=np.int64)
    for i in range(4):
        for j in range(i, 4):
            exp = int((X[:, i] * X[:, j]).sum())
            assert got[(i, j)] == exp, (i, j, got[(i, j)], exp)
            G[i, j] = G[j, i] = exp
        exp_b = int((X[:, i] * y).sum())
        assert got[(i, 4)] == exp_b
        b[i] = exp_b
    w = np.linalg.solve(G.astype(float), b.astype(float))
    grad = b - G @ w
    assert np.abs(grad).max() <= 1e-6 * max(1.0, np.abs(b).max())


def test_integer_domain_round6_property():
    """Property: the (2a*1e6 + b) // (2b) device equals true
    round-half-away-from-zero of the rational a/b at scale 6, for any
    non-negative a and positive b — checked with exact Fraction
    arithmetic (the float ROUND it replaces cannot promise this)."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        a=st.integers(min_value=0, max_value=10**12),
        b=st.integers(min_value=1, max_value=10**9),
    )
    def check(a, b):
        got = (2 * a * 1_000_000 + b) // (2 * b)
        x = Fraction(a, b) * 1_000_000
        frac = x - int(x)
        exp = int(x) + (1 if frac >= Fraction(1, 2) else 0)
        assert got == exp, (a, b, got, exp)

    check()


def test_round4_results_invariant_to_shuffle_partitions(spark):
    """Re-plan a representative set of round-4 operators under a
    different shuffle width and require IDENTICAL rows: hash-order
    selection, integer-quantized sums, pair counting, and sketch
    estimators all claim partitioning-invariance — pin it.  Batch
    exchanges start at AQE's initialPartitionNum, so both it and
    spark.sql.shuffle.partitions move, and the effective batch width
    is asserted before re-planning."""
    from ecostream.queries import QUERIES

    names = [
        "mix1_temperature_sampling",
        "lm2_perplexity_gate",
        "kmv1_distinct_estimate",
        "d10_sparse_cosine_verify",
        "qc1_linear_quality",
    ]
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    before = {k: spark.conf.get(k) for k in keys}
    base = {
        n: sorted(map(tuple, QUERIES[n](spark, SF_SMOKE).collect()))
        for n in names
    }
    try:
        for k in keys:
            spark.conf.set(k, "7")
        width = spark._jsparkSession.sessionState().conf().numShufflePartitions()
        assert width == 7, width
        for n in names:
            got = sorted(map(tuple, QUERIES[n](spark, SF_SMOKE).collect()))
            assert got == base[n], f"{n} changed under repartitioning"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_anon1_partitions_the_customer_table(spark):
    """The k-anonymity audit must partition the table exactly (group
    sizes sum to the row count), flag consistently at k=5, and band
    negative balances without truncate-vs-floor drift (the minimum
    balance is negative, so a negative band must exist)."""
    from ecostream.queries.analytics import _ANON1_K, anon1_k_anonymity
    from ecostream.schema import load_table
    from .conftest import SF_SMOKE

    rows = anon1_k_anonymity(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "customer").count()
    assert sum(r["group_size"] for r in rows) == n
    assert all(r["group_size"] >= 1 for r in rows)
    assert all(
        r["k_anonymous"] == (r["group_size"] >= _ANON1_K) for r in rows
    )
    assert min(r["bal_band"] for r in rows) < 0
