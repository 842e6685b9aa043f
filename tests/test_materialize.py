"""materialize() — lineage + stats truncation for iterative loops (r15).

Pins the fix for the compounding size-estimate pathology: Spark's
localCheckpoint carries the checkpointed plan's estimated Statistics
onto the LogicalRDD (ExistingRDD.scala rewriteStatsAndConstraints), and
visitJoin multiplies child sizes, so checkpointed SELF-join rounds
square the carried estimate — S^(2^K) after K rounds. Observed live:
the 25x bridges replica (19 sparse-table levels) hung the driver for
~1 h inside BigInteger.multiplyToomCook3 during stats estimation and
then died with "BigInteger would overflow supported range".
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.operators._materialize import (
    materialize,
)


def _digits(df) -> int:
    return len(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )


def _self_join_round(cur):
    return (
        cur.alias("x")
        .join(cur.select("a", F.col("b").alias("b2")), "a")
        .select("a", "b")
    )


def test_materialize_preserves_rows_and_schema(spark):
    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    m = materialize(df)
    assert m.schema == df.schema
    assert sorted(r["a"] for r in m.collect()) == list(range(100))
    # still a real materialization: no lineage back to the range scan
    assert "Range" not in m._jdf.queryExecution().optimizedPlan().toString()


def test_plain_checkpoint_compounds_stats(spark):
    # document the pathology this helper exists for: carried estimates
    # roughly square per checkpointed self-join round
    cur = spark.range(500).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    ).localCheckpoint(eager=True)
    start = _digits(cur)
    for _ in range(5):
        cur = _self_join_round(cur).localCheckpoint(eager=True)
    assert _digits(cur) > 4 * start  # compounding, not linear growth


def test_materialize_keeps_stats_constant(spark):
    cur = materialize(
        spark.range(500).select(
            F.col("id").alias("a"), (F.col("id") % 7).alias("b")
        )
    )
    for i in range(10):
        cur = materialize(_self_join_round(cur))
        # defaultSizeInBytes is Long.MaxValue (19 digits); the carried
        # estimate must never compound past it
        assert _digits(cur) <= 20, f"round {i}: {_digits(cur)} digits"
    assert cur.count() == 500


def test_materialize_usable_in_further_plans(spark):
    # the fresh LogicalRDD must join/aggregate/window like any frame
    left = materialize(
        spark.range(50).select(F.col("id").alias("k"), F.lit(1).alias("x"))
    )
    right = materialize(
        spark.range(50).select(F.col("id").alias("k"), F.lit(2).alias("y"))
    )
    out = (
        left.join(right, "k")
        .groupBy((F.col("k") % 5).alias("g"))
        .agg(F.sum(F.col("x") + F.col("y")).alias("s"))
    )
    rows = {r["g"]: r["s"] for r in out.collect()}
    assert rows == {g: 30 for g in range(5)}


def test_materialize_count_rows_and_values(spark):
    # the fused checkpoint+count must return the true count AND
    # correctly-copied rows (UnsafeRows are buffer-reused per
    # partition — an un-copied cache aliases every row to the last)
    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    from dataflow_flex_pyarrow_to_gds_spark.operators._materialize import (
        materialize_count,
    )

    m, n = materialize_count(df)
    assert n == 100
    rows = sorted((r["a"], r["b"]) for r in m.collect())
    assert rows == [(i, 3 * i) for i in range(100)]
    # stats must stay truncated (no compounding through self-joins)
    cur = m
    for _ in range(4):
        cur, n2 = materialize_count(_self_join_round(cur))
        assert n2 == 100
        assert _digits(cur) <= 20


class _NoInternalCreate:
    """A JVM session handle whose private ``internalCreateDataFrame`` is
    gone, as after a Spark upgrade that moved it."""

    def __init__(self, jsession):
        self._jsession = jsession

    def __getattr__(self, name):
        if name == "internalCreateDataFrame":
            raise AttributeError(name)
        return getattr(self._jsession, name)


def test_materialize_count_where_counts_in_one_job(spark, monkeypatch):
    # the where= count is observed inside the checkpoint job: the same
    # number a filter(where).count() gives, the same rows, one job
    from dataflow_flex_pyarrow_to_gds_spark.operators import _materialize
    from dataflow_flex_pyarrow_to_gds_spark.operators._materialize import (
        materialize_count,
    )

    monkeypatch.setattr(_materialize, "_WARNED", False)
    sc = spark.sparkContext
    df = spark.range(1000).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    where = F.col("b") == 3
    sc.setJobGroup("materialize-where", "fused count census")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            m, n = materialize_count(df, where=where)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
    assert len(sc.statusTracker().getJobIdsForGroup("materialize-where")) == 1
    assert n == df.filter(where).count() == 143
    assert sorted((r["a"], r["b"]) for r in m.collect()) == [
        (i, i % 7) for i in range(1000)
    ]

    empty = df.filter(F.col("a") < 0)
    no_partitions = spark.createDataFrame(sc.emptyRDD(), df.schema)
    assert no_partitions.rdd.getNumPartitions() == 0
    for frame in (empty, no_partitions):
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            m, n = materialize_count(frame, where=where)
        assert n == 0
        assert m.count() == 0

    # private-API drift: the fallback checkpoint still returns the count
    monkeypatch.setattr(
        spark, "_jsparkSession", _NoInternalCreate(spark._jsparkSession)
    )
    with pytest.warns(RuntimeWarning, match="falling back"):
        m, n = materialize_count(df, where=where)
    assert n == 143
    assert m.count() == 1000
