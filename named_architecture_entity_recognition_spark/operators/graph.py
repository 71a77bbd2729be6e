"""Graph analytics over the knowledge graph: PageRank.

The engine's KG output (triples / canonical entities, see
``operators/cc.py`` for the component side) invites the classic
"which entities matter" query; PageRank is the canonical answer and the
canonical *iterative* Spark workload, so it doubles as the engine's
second iterative-algorithm pattern next to connected components.

Semantics: the simplified textbook formulation over a directed edge
list (deduplicated):

    rank_0(v)   = 1 / N
    rank_t+1(v) = (1-d)/N + d * sum_{(u,v) in E} rank_t(u) / outdeg(u)

Dangling-node mass (nodes with no out-edges) is dropped, not
redistributed — the common simplification (also what the classic Spark
example does); ranks then sum to < 1. Deterministic: fixed iteration
count by default, so the DuckDB oracle (q_pagerank) reproduces the
run by unrolling the SAME recurrence `iterations` times; ranks are
rounded to 6 decimals at the edge to absorb summation-order float
noise.

Scale shape (per iteration): ONE aggregation shuffle for the
contribution sum (map-side partial agg collapses per-partition
contributions to a dst before the exchange) plus the nodes⨝contrib
join. The static (src, dst, outdeg) edge frame is checkpointed once —
without truncation its upstream lineage (e.g. a triple-extraction
pipeline) re-executes every iteration. Iteration state is lazily
checkpointed so the final action doesn't drag a 10-deep join lineage.
At production scale pass ``checkpoint_dir`` for reliable checkpointing
(executor loss mid-iteration otherwise kills the job — same contract
as connected_components).

Reference parity: beyond-reference capability (the reference holds one
in-memory document and has no graph analytics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(src string, dst string) -> (node string, rank double).

    Fixed ``iterations`` rounds: deterministic and oracle-friendly.
    """
    spark = edges.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    e = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = _ckpt(nodes)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # static per-edge frame, checkpointed ONCE: joins into every iteration
    estatic = _ckpt(e.join(outdeg, "src"))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contrib = (
            estatic.join(ranks, estatic.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("_c"))
            .withColumnRenamed("dst", "node")
        )
        ranks = _ckpt(
            ranks.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + damping * F.coalesce("_c", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph given as a
    (possibly directed / duplicated / self-looped) edge list.

    -> (vertex, n_triangles) for every vertex in >= 1 triangle.

    Scale shape — degree-ordered edge orientation, the standard
    skew-killer for triangle enumeration: after normalizing to
    undirected distinct edges, each edge is oriented from its lower-
    (degree, id) endpoint to the higher one. Every triangle then has
    exactly ONE wedge (a->b, b->c) whose closing edge (a->c) is also
    oriented, so the wedge join + closing semi-join counts each
    triangle once — and the wedge fan-out per vertex is bounded by its
    ORIENTED out-degree, which is O(sqrt(m)) even for a celebrity hub
    (a vertex keeps an out-edge only toward higher-degree neighbors).
    Without orientation a hub with degree d contributes d^2 wedges; at
    10^9-edge scale that single key is the job. Three shuffles total
    (degree agg, wedge join, closing join), all equi-joins.
    """
    u, v = F.col(src), F.col(dst)
    und = (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient: (deg, id) lexicographic — total order, so orientation is
    # deterministic and acyclic
    o = (
        und.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                F.struct(F.col("du"), F.col("u"))
                < F.struct(F.col("dv"), F.col("v")),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    wedge = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    tri = wedge.alias("w").join(
        o.alias("e3"),
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def co_occurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_count: int = 1,
    max_group_size: int | None = None,
) -> DataFrame:
    """Weighted co-occurrence edges: (item_a, item_b, n_groups) for
    every unordered item pair sharing a group, counted over distinct
    (group, item) memberships — the market-basket / co-citation /
    entity-co-mention primitive (also the edge generator for
    triangle_count / PageRank over co-occurrence graphs).

    Scale shape: pair fan-out is quadratic in GROUP SIZE, not corpus
    size — a single viral group (a 10^6-item basket) emits 10^12
    pairs. ``max_group_size`` is the guard: over-cap groups are
    dropped via a groupBy partial-agg + anti-join (the dedup.py
    hot-bucket pattern — never a window, so no task materializes the
    hot group). Two shuffles total: the self equi-join on group and
    the partial-agg pair count; ``min_count`` prunes after the
    map-side combine.
    """
    gi = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).dropDuplicates()
    if max_group_size is not None:
        over = (
            gi.groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_group_size)
            .select("_g")
        )
        gi = gi.join(over, "_g", "left_anti")
    a, b = gi.alias("a"), gi.alias("b")
    return (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a._i") < F.col("b._i")),
        )
        .groupBy(
            F.col("a._i").alias("item_a"), F.col("b._i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .filter(F.col("n_groups") >= min_count)
    )
