"""Distributed prefix sum (functions/prefix.py): row-for-row equality
with the single-partition global window, with and without groups, and
the no-single-partition plan property."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import Window, functions as F

from .conftest import SF_SMOKE


def _expected(df, order_cols, value_col, partition_cols=()):
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "cum_before", F.sum(value_col).over(w) - F.col(value_col)
    )


def test_prefix_sum_equals_global_window(spark):
    from ecostream.functions.prefix import with_prefix_sum
    from ecostream.schema import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    got = {
        r["event_id"]: r["cum_before"]
        for r in with_prefix_sum(
            ev, ["event_id"], "user_id", num_partitions=7
        ).collect()
    }
    want = {
        r["event_id"]: r["cum_before"]
        for r in _expected(ev, ["event_id"], "user_id").collect()
    }
    assert got == want


def test_prefix_sum_grouped_equals_partitioned_window(spark):
    from ecostream.functions.prefix import with_prefix_sum
    from ecostream.schema import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "user_id"
    )
    got = {
        (r["event_type"], r["event_id"]): r["cum_before"]
        for r in with_prefix_sum(
            ev,
            ["event_id"],
            "user_id",
            partition_cols=["event_type"],
            num_partitions=5,
        ).collect()
    }
    want = {
        (r["event_type"], r["event_id"]): r["cum_before"]
        for r in _expected(
            ev, ["event_id"], "user_id", partition_cols=["event_type"]
        ).collect()
    }
    assert got == want


def test_prefix_sum_plan_has_no_single_partition_window(spark):
    """The whole point: no 'Window.orderBy with empty partition spec'
    — every window in the plan partitions by the range-partition id."""
    from ecostream.functions.prefix import with_prefix_sum
    from ecostream.schema import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    out = with_prefix_sum(ev, ["event_id"], "user_id", num_partitions=7)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "Window" in plan
    # a global window would show 'Exchange SinglePartition' feeding it
    assert "SinglePartition" not in plan, plan


def test_prefix_sum_default_width_is_default_parallelism(spark, monkeypatch):
    """Without ``num_partitions`` the range spans the default
    parallelism, not the session's one-partition stream-state width."""
    from ecostream.functions.prefix import with_prefix_sum

    df = spark.range(64).selectExpr("id AS k", "id AS x")
    widths = []
    cls = type(df)
    orig = cls.repartitionByRange

    def spy(self, n, *cols):
        widths.append(n)
        return orig(self, n, *cols)

    monkeypatch.setattr(cls, "repartitionByRange", spy)
    assert with_prefix_sum(df, ["k"], "x").count() == 64
    assert widths == [spark.sparkContext.defaultParallelism]
    assert widths[0] > 1


def test_prefix_sum_edge_cases(spark):
    """Empty input, single row, decimal values, and more partitions
    than rows all behave like the window form."""
    from decimal import Decimal

    from ecostream.functions.prefix import with_prefix_sum

    # empty
    empty = spark.createDataFrame([], "k long, x long")
    assert with_prefix_sum(empty, ["k"], "x", num_partitions=4).count() == 0

    # single row
    one = spark.createDataFrame([(1, 10)], "k long, x long")
    [r] = with_prefix_sum(one, ["k"], "x", num_partitions=4).collect()
    assert r["cum_before"] == 0

    # decimal values + more partitions than rows
    dec = spark.createDataFrame(
        [(i, Decimal(f"{i}.50")) for i in range(5)],
        "k long, x decimal(10,2)",
    )
    got = {
        r["k"]: r["cum_before"]
        for r in with_prefix_sum(dec, ["k"], "x", num_partitions=16).collect()
    }
    run, want = Decimal("0"), {}
    for i in range(5):
        want[i] = run
        run += Decimal(f"{i}.50")
    assert got == want


def test_prefix_sum_nullable_values_and_all_null_partitions(spark):
    """Null values contribute nothing, and a range partition whose
    values are ALL null must not break offset construction (the zero
    is derived from the aggregate's type, never from a sampled total,
    which can be None)."""
    from ecostream.functions.prefix import with_prefix_sum

    # keys 0..9; nulls concentrated on the low keys so with many range
    # partitions the first partitions are all-null
    rows = [(i, None if i < 5 else i * 10) for i in range(10)]
    df = spark.createDataFrame(rows, "k long, x long")
    got = {
        r["k"]: r["cum_before"]
        for r in with_prefix_sum(df, ["k"], "x", num_partitions=8).collect()
    }
    want, run = {}, 0
    for k in range(10):
        want[k] = run
        run += 0 if k < 5 else k * 10
    assert got == want

    # decimal flavor of the same (Decimal zero path)
    from decimal import Decimal

    drows = [(i, None if i < 3 else Decimal(f"{i}.25")) for i in range(6)]
    ddf = spark.createDataFrame(drows, "k long, x decimal(10,2)")
    dgot = {
        r["k"]: r["cum_before"]
        for r in with_prefix_sum(ddf, ["k"], "x", num_partitions=6).collect()
    }
    drun, dwant = Decimal("0"), {}
    for k in range(6):
        dwant[k] = drun
        drun += Decimal("0") if k < 3 else Decimal(f"{k}.25")
    assert dgot == dwant
