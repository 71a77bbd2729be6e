"""Connected components (alias canonicalization, J3 general form)."""

import random
from collections import deque

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.cc import (
    connected_components,
)


def cc_map(edges_df):
    return {
        r.node: r.component for r in connected_components(edges_df).collect()
    }


def test_two_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    m = cc_map(edges)
    assert m["a"] == m["b"] == m["c"] == "a"
    assert m["x"] == m["y"] == "x"


def test_chain_converges(spark):
    # long path exercises >1 iteration of label propagation
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(11)], "src string, dst string"
    )
    m = cc_map(edges)
    assert set(m.values()) == {"n00"}


def test_deterministic_vs_partitioning(spark):
    rows = [("a", "b"), ("c", "d"), ("b", "c"), ("p", "q")]
    e1 = spark.createDataFrame(rows, "src string, dst string")
    e2 = spark.createDataFrame(rows, "src string, dst string").repartition(7)
    assert cc_map(e1) == cc_map(e2)


def test_wide_star_converges_fast(spark):
    """Hot-surface shape at scale: 10^5 entities all sharing one surface
    form make a star of 1e5 edges around one hub node. Min-label
    propagation + pointer jumping must converge in <=4 iterations (one
    action each), and every node must land on the hub-star's min label."""
    n = 100_000
    edges = (
        spark.range(n)
        .select(
            F.concat(F.lit("doc"), F.format_string("%06d", "id")).alias("src"),
            F.lit("name:hotterm").alias("dst"),
        )
    )
    stats = {}
    comp = connected_components(edges, stats=stats)
    rows = comp.collect()
    assert len(rows) == n + 1
    assert {r.component for r in rows} == {"doc000000"}
    assert stats["iterations"] <= 4


def test_reliable_checkpoint_dir_option(spark, tmp_path):
    """checkpoint_dir engages RELIABLE checkpointing (survives executor
    loss at scale): iteration state must be written under the dir and
    results identical to the localCheckpoint path."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    ckpt = tmp_path / "cc_ckpt"
    m = {
        r.node: r.component
        for r in connected_components(
            edges, checkpoint_dir=str(ckpt)
        ).collect()
    }
    assert m == cc_map(edges)
    assert any(ckpt.rglob("*"))  # reliable checkpoint files were written


def test_null_alternative_names_not_dropped(spark):
    """Entities read from external tables can carry NULL
    alternative_names; their own-name edge must survive (ADVICE r1) so
    cross-doc linking still unifies them."""
    from named_architecture_entity_recognition_spark.operators.cc import (
        canonicalize_corpus,
    )

    ents = spark.createDataFrame(
        [
            ("d1", "BBB web", "COMPONENT", None, []),
            ("d2", "bbb-web", "COMPONENT", None, []),
        ],
        "doc_id string, name string, entity_type string, "
        "alternative_names array<string>, occurrences array<struct<sent_no:int,ref_type:string>>",
    )
    canon = canonicalize_corpus(ents).select("doc_id", "canonical_id")
    rows = {r.doc_id: r.canonical_id for r in canon.collect()}
    assert rows["d1"] == rows["d2"]


def test_corpus_canonicalization_links_across_docs(spark):
    """north_star: the same component mentioned with different surface
    conventions in different docs unifies under one canonical_id, via
    CC over normalized name/alias edges; unrelated entities stay apart."""
    from named_architecture_entity_recognition_spark.operators.cc import (
        canonicalize_corpus,
        sameas_triples,
    )

    ents = spark.createDataFrame(
        [
            ("d1", "BBB web", "COMPONENT", [], []),
            ("d2", "bbb-web", "COMPONENT", [], []),
            ("d3", "WebPortal", "COMPONENT", ["BBB Web"], []),
            ("d4", "Recommender", "COMPONENT", [], []),
        ],
        "doc_id string, name string, entity_type string, "
        "alternative_names array<string>, occurrences array<struct<sent_no:int,ref_type:string>>",
    )
    canon = canonicalize_corpus(ents).select("doc_id", "name", "canonical_id")
    rows = {r.doc_id: r.canonical_id for r in canon.collect()}
    assert rows["d1"] == rows["d2"] == rows["d3"]
    assert rows["d4"] != rows["d1"]
    triples = sameas_triples(canonicalize_corpus(ents))
    assert triples.filter("pred = 'sameAs'").count() == 4


def test_pipeline_entities_canonicalized_add_sameas(spark):
    """Entity linking composes on the pipeline's entities: the same
    component in two documents gets one canonical id."""
    from named_architecture_entity_recognition_spark.operators.cc import (
        canonicalize_corpus,
        sameas_triples,
    )
    from named_architecture_entity_recognition_spark.plans.pipeline import (
        RecognizerPipeline,
    )
    from named_architecture_entity_recognition_spark.schema import DOCUMENTS
    from named_architecture_entity_recognition_spark.sources.sad import doc_row

    docs = spark.createDataFrame(
        [
            doc_row("a", ["The BBB web routes calls."]),
            doc_row("b", ["Here bbb-web handles requests."]),
        ],
        DOCUMENTS,
    )
    pipe = RecognizerPipeline(["BBB web"])
    t = sameas_triples(canonicalize_corpus(pipe.entities(docs)))
    same = t.filter("pred = 'sameAs'").select("obj").distinct()
    assert t.filter("pred = 'sameAs'").count() == 2
    assert same.count() == 1  # both docs' entities share one canonical id


# --- differential tests: connected_components against a pure-Python BFS


def bfs_components(edges):
    """Reference CC: breadth-first search over an adjacency map; every
    node is labelled with the smallest node of its component. Edges with
    a None endpoint are ignored."""
    adj = {}
    for s, d in edges:
        if s is None or d is None:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    label = {}
    for start in adj:
        if start in label:
            continue
        seen, queue = {start}, deque([start])
        while queue:
            for nxt in adj[queue.popleft()]:
                if nxt not in seen:
                    seen.add(nxt)
                    queue.append(nxt)
        low = min(seen)
        for node in seen:
            label[node] = low
    return label


def _edges_df(spark, rows, partitions):
    return spark.createDataFrame(rows, "src string, dst string").repartition(partitions)


def _cc(df):
    stats = {}
    got = {r.node: r.component for r in connected_components(df, stats=stats).collect()}
    return got, stats["iterations"]


def _random_graph(rng, tag):
    # mixed-case, accented and CJK names: the answer depends on Spark's
    # byte-wise string order, which must match the kernel's sort
    alphabet = ["a", "B", "z", "é", "Ä", "日", "0", "-"]
    names = sorted(
        {tag + "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 4)))
         for _ in range(rng.randint(5, 120))}
    )
    edges = []
    for _ in range(rng.randint(1, 2 * len(names))):
        s, d = rng.choice(names), rng.choice(names)
        edges.append((s, d))
        if rng.random() < 0.2:
            edges.append((d, s))  # reversed duplicate
    return edges


@pytest.mark.parametrize("partitions", [1, 3, 7])
def test_random_graphs_match_bfs(spark, partitions):
    rng = random.Random(1000 + partitions)
    rows = [e for g in range(8) for e in _random_graph(rng, f"g{g}.")]
    got, rounds = _cc(_edges_df(spark, rows, partitions))
    assert got == bfs_components(rows)
    assert rounds <= 4  # log2(7) + 1


def test_long_path_over_four_partitions(spark):
    """Rounds are bounded by the partition count, not the diameter: a
    4,096-node path over 4 partitions is exact in log2(4) + 1 rounds."""
    nodes = [f"n{i:05d}" for i in range(4096)]
    rows = list(zip(nodes, nodes[1:]))
    got, rounds = _cc(_edges_df(spark, rows, 4))
    assert got == bfs_components(rows)
    assert set(got.values()) == {"n00000"}
    assert rounds <= 3  # log2(4) + 1


def test_mega_star_over_partitions_in_two_rounds(spark):
    n = 100_000
    edges = spark.range(0, n, numPartitions=8).select(
        F.lit("~hub").alias("src"),  # '~' sorts after every leaf
        F.format_string("leaf%06d", "id").alias("dst"),
    )
    got, rounds = _cc(edges)
    rows = [("~hub", f"leaf{i:06d}") for i in range(n)]
    assert got == bfs_components(rows)
    assert rounds <= 2


def test_self_loops_nulls_duplicates_and_reversed_edges(spark):
    rows = [
        ("a", "a"),  # self-loop only: its own component
        ("b", None),  # NULL endpoint: ignored, so b is not a node
        (None, "c"),
        (None, None),
        ("c", "c"),
        ("d", "e"),
        ("e", "d"),
        ("d", "e"),
        ("f", "f"),
        ("g", "f"),
    ]
    got, _ = _cc(_edges_df(spark, rows, 3))
    assert got == bfs_components(rows)
    assert got == {"a": "a", "c": "c", "d": "d", "e": "d", "f": "f", "g": "f"}


def test_boundary_round_runs_over_seven_partitions(spark):
    rng = random.Random(7)
    nodes = [f"v{i:04d}" for i in range(400)]
    rows = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(500)]
    got, rounds = _cc(_edges_df(spark, rows, 7))
    assert got == bfs_components(rows)
    assert rounds == 2  # local union-find, then one exact boundary round


def test_boundary_needing_several_rounds(spark, monkeypatch):
    """With one boundary edge per task the partition count only halves
    per round (8 -> 4 -> 2 -> 1), so the boundary graph itself takes
    more than one round; the answer must not change and the rounds stay
    within log2(8) + 1."""
    from named_architecture_entity_recognition_spark.operators import cc

    monkeypatch.setattr(cc, "_EDGES_PER_TASK", 1)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # keep each round on its partitions
    try:
        nodes = [f"w{i:05d}" for i in range(3000)]
        order = list(range(3000))
        random.Random(3).shuffle(order)
        rows = [(nodes[a], nodes[b]) for a, b in zip(order, order[1:])]
        rows += [("x1", "x2"), ("x2", "x3")]
        got, rounds = _cc(_edges_df(spark, rows, 8))
    finally:
        spark.conf.set(key, old)
    assert got == bfs_components(rows)
    assert 3 <= rounds <= 4
