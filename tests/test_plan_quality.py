"""Physical-plan audits: the optimizations we rely on at 100TB must be
visible in the plans at any scale — predicate pushdown reaching the
parquet scan, column pruning, broadcast joins for small dims, and
whole-stage codegen around the hot expressions."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,40" in plan


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey")
    plan = plan_of(q)
    # ReadSchema carries only the projected column
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_orderkey" in read_schema[0]
    assert "l_extendedprice" not in read_schema[0]


def test_small_dim_join_is_broadcast(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy(
        "n_name"
    ).count()
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan


def test_kg_pipeline_zero_shuffle(spark, tmp_path):
    """The whole documents->triples pipeline must contain NO exchange:
    detection+assembly run fused in one partition-preserving mapInArrow
    pass (entities are doc-local) and triples are narrow. The docs come
    from parquet, so every python node in the plan is the pipeline's."""
    from named_architecture_entity_recognition_spark.plans.pipeline import (
        RecognizerPipeline,
    )
    from named_architecture_entity_recognition_spark.synth import (
        synth_documents,
        synth_gazetteer,
    )

    path = str(tmp_path / "docs")
    synth_documents(spark, 10, seed=1, gazetteer_size=10).write.parquet(path)
    t = RecognizerPipeline(synth_gazetteer(10)).triples(spark.read.parquet(path))
    simple = t._sc._jvm.PythonSQLUtils.explainString(
        t._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 0, simple
    # the only python boundary is the Arrow-batched detection kernel: no
    # scalar python UDF, no legacy row-python, no pandas map
    assert simple.count("MapInArrow") == 1, simple
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan_of(t), marker


def test_charset_fastpath_has_no_python(spark):
    """J1 fast path (charset-key equi-join) must be pure JVM."""
    from named_architecture_entity_recognition_spark.operators.occurrences import (
        charset_key,
    )

    s = spark.createDataFrame(
        [("d", 1, "abc.")], "doc_id string, sent_no int, sentence string"
    ).withColumn("ckey", charset_key("sentence"))
    plan = plan_of(s)
    # pure JVM expressions: no python evaluation node of any kind
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_aggregation_is_partial_then_final(spark):
    """groupBy aggregations must show map-side partial aggregation."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = plan_of(q)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_detection_scan_prunes_nested_media_fields(spark, tmp_path):
    """The detection stage's parquet scan must read only spans.kind +
    spans.text — media_ref/offset bytes never decoded (mentions.py slim
    projection + expression nested pruning)."""
    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_mentions_df,
    )
    from named_architecture_entity_recognition_spark.schema import DOCUMENTS
    from named_architecture_entity_recognition_spark.sources.sad import doc_row

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [doc_row("d1", ["One line."], media_every=1)], DOCUMENTS
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = plan_of(detect_mentions_df(docs, ["One"]))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "media_ref" not in read_schema[0], read_schema[0]
    assert "text" in read_schema[0] and "kind" in read_schema[0]


def test_hash_split_is_shuffle_free_pure_jvm(spark):
    """hash_split is a per-row expression: zero exchanges, no Python."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        hash_split,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = hash_split(docs.select("doc_id"))
    simple = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 0, simple
    plan = plan_of(q)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_pack_sequences_single_shuffle(spark):
    """Packing costs exactly ONE exchange (the window partitioning);
    the token count itself is computed map-side before the shuffle."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = pack_sequences(docs, budget_tokens=256)
    simple = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 1, simple


def test_contamination_scan_prunes_columns(spark):
    """The shingle inverted-index join reads only doc_id+text from both
    sides (no lang/source/n_chars bytes)."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        contamination,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.pmod("doc_id", F.lit(10)) == 0)
    tr = docs.filter(F.pmod("doc_id", F.lit(10)) != 0)
    plan = plan_of(contamination(tr, ev))
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "n_chars" not in ln and "lang" not in ln, ln


def test_ivf_probe_join_is_broadcast_no_row_python(spark):
    """IVF: the probed-list join must broadcast the tiny query side,
    and the assignment is a Catalyst fold — zero Python nodes."""
    from named_architecture_entity_recognition_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(cosine_topk_ivf(e, qs, k=3, n_centroids=4, nprobe=2))
    assert "BroadcastHashJoin" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_repair_parse_python_confined_to_failed_residue(spark):
    """repair_parse: the only Python boundary is the Arrow-batched
    repair pass, and it sits behind the failed-rows filter — strict
    parsing is pure Catalyst."""
    from named_architecture_entity_recognition_spark.parsers.answers import (
        repair_parse,
    )

    answers = spark.createDataFrame(
        [("d", "x")], "doc_id string, answer string"
    )
    df = repair_parse(answers)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert simple.count("MapInPandas") == 1, simple


def test_dup_clusters_one_minhash_pass_no_join_before_cc(spark):
    """dup_clusters feeds CC doc <-> bucket edges: over every SQL
    execution it runs, the MinHash kernel (MapInPandas) appears once,
    no join or hot-bucket anti-join sits upstream of CC's union-find
    (MapInArrow), and an Exchange separates the two Python nodes, so
    no task holds a Python worker for each."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        dup_clusters,
    )

    docs = spark.createDataFrame(
        [(i, "common template words here repeated over and over")
         for i in range(6)]
        + [(9, "one other document about something else entirely")],
        "doc_id int, text string",
    )
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    # the store keeps only the latest executions: mark by id, not index
    mark = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    dup_clusters(docs, n_hashes=4, bands=2).collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    execs = store.executionsList()
    plans = []
    for i in range(execs.size() - 1, -1, -1):
        if execs.apply(i).executionId() <= mark:
            break
        desc = execs.apply(i).physicalPlanDescription()
        # the tree of the plan that ran (AQE prints the initial one too)
        tree = desc.split("== Initial Plan ==")[0].split("\n\n")[0]
        plans.append(tree.splitlines())
    nodes = [ln for tree in plans for ln in tree]
    assert sum("MapInPandas" in ln for ln in nodes) == 1, plans
    cc = next(t for t in plans if any("MapInArrow" in ln for ln in t))
    at = [i for i, ln in enumerate(cc) if "MapInArrow" in ln][0]
    upstream = cc[at + 1:]
    assert not any("Join" in ln or "LeftAnti" in ln for ln in upstream), cc
    py = [i for i, ln in enumerate(upstream) if "MapInPandas" in ln]
    assert py and any("Exchange" in ln for ln in upstream[: py[0]]), cc


def test_rollup_grouping_sets_single_pass(spark):
    """ROLLUP must compile to ONE Expand + hash aggregate over one
    scan — not a self-union of per-level aggregations."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    simple = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    assert simple.count("Expand") == 1, simple
    assert simple.count("Scan parquet") == 1 or simple.count("FileScan") == 1, simple
    assert "Union" not in simple, simple
