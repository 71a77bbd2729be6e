"""PageRank (operators/graph.py)."""

import pytest

from named_architecture_entity_recognition_spark.operators.graph import (
    pagerank,
)


def _expected(edges, d=0.85, iters=10):
    """Plain-python power iteration of the documented recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    e = sorted(set(edges))
    out = {}
    for u, _ in e:
        out[u] = out.get(u, 0) + 1
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {}
        for u, v in e:
            contrib[v] = contrib.get(v, 0.0) + r[u] / out[u]
        r = {v: (1 - d) / n + d * contrib.get(v, 0.0) for v in nodes}
    return {v: round(x, 6) for v, x in r.items()}


def test_pagerank_matches_power_iteration(spark):
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"),
        ("d", "b"), ("e", "a"), ("a", "c"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    exp = _expected(edges)
    assert got == pytest.approx(exp, abs=2e-6)


def test_pagerank_hub_dominates_and_dup_edges_ignored(spark):
    star = [(f"leaf{i}", "hub") for i in range(20)]
    df = spark.createDataFrame(star + star, "src string, dst string")
    ranks = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    assert max(ranks, key=ranks.get) == "hub"
    assert ranks == pytest.approx(_expected(star, iters=5), abs=2e-6)


def test_pagerank_partition_invariance_and_empty(spark):
    edges = [(f"u{i % 13}", f"u{(i * 7) % 13}") for i in range(60) if i % 13 != (i * 7) % 13]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r.node: r.rank for r in pagerank(df, iterations=6).collect()}
    b = {r.node: r.rank for r in pagerank(df.repartition(17), iterations=6).collect()}
    assert a == b
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_triangle_count_known_graph(spark):
    """K4 plus a triangle-free star hub, with duplicate / reversed /
    self-loop edges thrown in: K4 has 4 triangles, every K4 vertex sits
    in exactly 3 of them; star vertices are absent."""
    from named_architecture_entity_recognition_spark.operators.graph import (
        triangle_count,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    noise = [(2, 1), (3, 3), (1, 2)]  # reversed dup, self-loop, dup
    star = [(100, x) for x in range(101, 106)]
    e = spark.createDataFrame(k4 + noise + star, "src int, dst int")
    got = {r.vertex: r.n_triangles for r in triangle_count(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_hub_skew_bounded(spark):
    """A 200-spoke hub whose spokes form a chain: triangles = each
    consecutive spoke pair + hub. Degree orientation keeps the hub's
    ORIENTED out-degree at zero (every spoke has lower degree), so no
    hub-keyed wedge explosion — and the count is exact."""
    from named_architecture_entity_recognition_spark.operators.graph import (
        triangle_count,
    )

    hub = [(0, i) for i in range(1, 201)]
    chain = [(i, i + 1) for i in range(1, 200)]
    e = spark.createDataFrame(hub + chain, "src int, dst int")
    got = {r.vertex: r.n_triangles for r in triangle_count(e).collect()}
    assert got[0] == 199  # hub participates in every (i, i+1, hub)
    assert got[1] == 1 and got[200] == 1
    assert all(got[i] == 2 for i in range(2, 200))


def test_triangle_count_joins_are_equi_not_cartesian(spark):
    from named_architecture_entity_recognition_spark.operators.graph import (
        triangle_count,
    )

    e = spark.createDataFrame(
        [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b],
        "src int, dst int",
    )
    out = triangle_count(e)
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "CartesianProduct" not in simple, simple
    assert "BroadcastNestedLoopJoin" not in simple, simple


def test_co_occurrence_edges_counts_and_cap(spark):
    """Pair counts over distinct memberships; duplicates within a
    group count once; the hot-group cap drops the viral group via
    anti-join (no Window in the plan)."""
    from named_architecture_entity_recognition_spark.operators.graph import (
        co_occurrence_edges,
    )

    rows = (
        [("g1", x) for x in ("a", "b", "c")]
        + [("g2", x) for x in ("a", "b")]
        + [("g2", "a")]  # duplicate membership, counts once
        + [("viral", f"v{i}") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, item string")
    out = co_occurrence_edges(df, "g", "item", max_group_size=5)
    got = {(r.item_a, r.item_b): r.n_groups for r in out.collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "Window" not in simple, simple
    assert "LeftAnti" in simple, simple
    # min_count prunes
    out2 = co_occurrence_edges(df, "g", "item", min_count=2, max_group_size=5)
    assert {(r.item_a, r.item_b) for r in out2.collect()} == {("a", "b")}
