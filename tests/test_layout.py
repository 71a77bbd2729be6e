"""Z-order layout (operators/layout.py)."""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.layout import (
    interleave_bits,
    zorder_key,
)


def test_morton_codes_tiny_grid(spark):
    """bits=2 over a 4x4 grid with lo=0, hi=3: bucket == value, so z is
    the textbook Morton code (col0 bits at even positions)."""
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = {
        (r.a, r.b): r.z
        for r in zorder_key(df, ["a", "b"], bits=2).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(2):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): morton(x, y) for x, y in rows}
    assert got[(1, 0)] == 1 and got[(0, 1)] == 2 and got[(3, 3)] == 15


def test_zorder_key_range_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000, float((i * 104729) % 500)) for i in range(2000)],
        "id int, a int, v double",
    )
    out = zorder_key(df, ["a", "v"], bits=8)
    vals = [r.z for r in out.collect()]
    assert all(0 <= z < (1 << 16) for z in vals)
    again = [r.z for r in zorder_key(df.repartition(13), ["a", "v"], bits=8).collect()]
    assert sorted(vals) == sorted(again)


def test_zorder_stats_join_is_broadcast(spark):
    df = spark.createDataFrame(
        [(i, i % 10, i % 7) for i in range(100)], "id int, a int, b int"
    )
    out = zorder_key(df, ["a", "b"], bits=4)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in final, final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final, final


def test_zorder_rejects_bad_args(spark):
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError, match=">= 2 columns"):
        zorder_key(df, ["a"])
    with pytest.raises(ValueError, match=r"\[1, 63\]"):
        zorder_key(df, ["a", "b"], bits=32)


def test_interleave_bits_is_pure_projection(spark):
    df = spark.range(100).select(
        (F.col("id") % 16).alias("a"), (F.col("id") % 13).alias("b")
    )
    out = df.withColumn("z", interleave_bits([F.col("a"), F.col("b")], bits=4))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("== Initial Plan ==")[0], plan
