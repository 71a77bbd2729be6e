"""Connected components over alias edges (J3 general form).

The reference unifies entity names by pairwise alias-pool intersection
with in-place renames (test/.../TestProjectEvaluator.java:209-239) —
O(n^2) single-machine. The scalable generalization is connected
components over the bipartite graph (entity_key)---(alias_name): two
entities sharing any pool name land in one component, and the
component's canonical label (min name) plays the role of the
reference's unified name.

Algorithm: per-partition union-find plus boundary merge (BTS,
"Load-Balanced Distributed Union-Find", ICDE 2024). A round runs a numpy
union-find over each partition's edges where they sit (no shuffle, so a
hub's edges are never gathered into one task), takes each node's min
local root, and keeps the (root, min root) edges where a node's
partitions disagree. That boundary graph is the next round's input on
at most half as many partitions; a one-partition round is exact, so CC
takes at most log2(P)+1 rounds whatever the diameter. Deterministic:
labels are strings, min is total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# boundary edges per union-find task (numpy: 10^6 edges in < 1 s)
_EDGES_PER_TASK = 1 << 20


def _local_roots(batches):
    """mapInArrow kernel: one partition's edges -> (node, root), root =
    min node of the node's component among this partition's edges."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    t = t.filter(pc.and_(pc.is_valid(t["src"]), pc.is_valid(t["dst"])))
    if t.num_rows == 0:
        return
    ends = pa.concat_arrays([t["src"].combine_chunks(), t["dst"].combine_chunks()])
    # factorize in sorted (UTF-8 byte = Spark string) order: the smallest
    # index of a component is its smallest string
    names = pc.unique(ends)
    names = names.take(pc.sort_indices(names))
    idx = pc.index_in(ends, value_set=names).to_numpy()
    u, v = idx[: t.num_rows], idx[t.num_rows :]
    parent = np.arange(len(names))
    while True:
        # hook each root onto the smallest root it shares an edge with,
        # then jump pointers until every node points at a root again
        lo = np.minimum(parent[u], parent[v])
        hi = np.maximum(parent[u], parent[v])
        cross = lo != hi
        if not cross.any():
            break
        np.minimum.at(parent, hi[cross], lo[cross])
        while not np.array_equal(up := parent[parent], parent):
            parent = up
    yield pa.RecordBatch.from_arrays([names, names.take(parent)], ["node", "root"])


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src string, dst string) -> (node string, component string).

    component = lexicographic min node id reachable. Undirected; edges
    with a NULL endpoint are ignored.

    One Spark action per round: the boundary-edge count is the only
    convergence signal and materializes the round's lazy checkpoint; a
    one-partition round is exact and runs none. The per-round maps
    compose lazily, one left join per extra round.

    ``checkpoint_dir``: when set, rounds use RELIABLE checkpointing
    (``df.checkpoint`` into that dir), so an executor loss recomputes
    from durable storage — required at production scale. Default is
    ``localCheckpoint`` (executor-memory lineage truncation).

    ``stats``: optional dict filled with {"iterations": rounds}.
    """
    if checkpoint_dir:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        # lazy: persisted by the round's count action (or by the caller's
        # first action after a one-partition round), not by a job here
        if checkpoint_dir:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    edges = edges.select("src", "dst")
    maps, parts = [], None
    while True:
        # each node's local roots, smallest first; the checkpoint keeps an
        # upstream LSH kernel from re-running when the final map is read
        roots = _ckpt(
            edges.mapInArrow(_local_roots, "node string, root string")
            .withColumn("part", F.spark_partition_id())
            .groupBy("node")
            .agg(
                F.array_sort(F.collect_set("root")).alias("roots"),
                F.max("part").alias("part"),
            )
        )
        maps.append(roots.select("node", F.col("roots")[0].alias("root")))
        if parts == 1:
            break
        n_boundary, top = roots.agg(F.sum(F.size("roots") - 1), F.max("part")).first()
        if not n_boundary:
            break
        parts = max(1, min((top + 1) // 2, -(-n_boundary // _EDGES_PER_TASK)))
        edges = roots.select(
            F.explode(F.slice("roots", 2, F.size("roots"))).alias("src"),
            F.col("roots")[0].alias("dst"),
        ).coalesce(parts)
    if stats is not None:
        stats["iterations"] = len(maps)
    comp = maps[0]
    for up in maps[1:]:
        comp = comp.join(
            up.select(F.col("node").alias("root"), F.col("root").alias("up")),
            "root",
            "left",
        ).select("node", F.coalesce("up", "root").alias("root"))
    return comp.select("node", F.col("root").alias("component"))


def canonicalize_corpus(entities: DataFrame) -> DataFrame:
    """Corpus-level entity linking (north_star: "abbreviation/case
    canonicalization with connected-components union over alias edges"):
    entities from DIFFERENT docs unify when any of their surface forms
    (name or alias), case/hyphen/space-collapsed, coincide.

    Bipartite edges (doc#name) --- (name:<normalized surface>). Adds
    ``canonical_id``: the component's min label, a deterministic
    corpus-wide entity id. Hot surfaces make wide stars; CC's union-find
    runs where the edges sit, so a hub's edges never meet in one task.
    """
    def norm_col(c):
        # normalize_name in SQL: strip non-alnum, lowercase
        return F.lower(F.regexp_replace(c, r"[^A-Za-z0-9]+", ""))

    with_key = entities.withColumn("node", F.concat_ws("#", "doc_id", F.lower("name")))
    surfaces = with_key.select(
        F.col("node").alias("src"),
        F.explode(
            F.array_union(
                F.array(F.col("name")),
                F.coalesce("alternative_names", F.array().cast("array<string>")),
            )
        ).alias("surface"),
    ).select(
        "src",
        F.concat(F.lit("name:"), norm_col(F.col("surface"))).alias("dst"),
    )
    comp = connected_components(surfaces)
    return (
        with_key.join(comp, "node", "left")
        .withColumn("canonical_id", F.coalesce("component", F.col("node")))
        .drop("component")
        .withColumnRenamed("node", "entity_id")
    )


def sameas_triples(canonical: DataFrame) -> DataFrame:
    """(entity_id, sameAs, canonical_id) rows for linked entities."""
    return canonical.select(
        F.col("entity_id").alias("subj"),
        F.lit("sameAs").alias("pred"),
        F.col("canonical_id").alias("obj"),
    )
