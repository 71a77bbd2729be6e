"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship NAER KG-construction pipeline on
sf0.001; ``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the training-data operators); ``oracle_sql()`` gives
the DuckDB-equivalent SQL for every query. Each query is declared once:
its ``_q_<name>`` builder carries its oracle as ``@_oracle(sql)``, and
both dicts are read from that one registry. Column names and rounding
are aligned on both sides so the driver's order-insensitive value hash
matches.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from itertools import accumulate
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from named_architecture_entity_recognition_spark.operators.asof import asof_join
from named_architecture_entity_recognition_spark.operators.cc import (
    connected_components,
)
from named_architecture_entity_recognition_spark.operators.cdc import (
    latest_snapshot, scd2_history,
)
from named_architecture_entity_recognition_spark.operators.corpus import (
    chunk_documents, contamination, dup_clusters, hash_split, pack_sequences,
    prepare_corpus, sample_mixture, stratified_sample_exact, weighted_sample,
)
from named_architecture_entity_recognition_spark.operators.dedup import (
    dup_span_intervals, exact_dedup_groups, minhash_lsh_pairs, minhash_signature,
    remove_dup_spans, shingles, simhash_pairs, simhash_signatures,
)
from named_architecture_entity_recognition_spark.operators.funnel import (
    cohort_retention, funnel_levels, funnel_levels_array,
)
from named_architecture_entity_recognition_spark.operators.graph import (
    co_occurrence_edges, pagerank, triangle_count,
)
from named_architecture_entity_recognition_spark.operators.ids import stable_row_ids
from named_architecture_entity_recognition_spark.operators.layout import zorder_key
from named_architecture_entity_recognition_spark.operators.media import (
    extract_media_features, extract_ppm_features, extract_wav_features, synth_ppm,
    synth_wav,
)
from named_architecture_entity_recognition_spark.operators.mentions import (
    detect_entities_df_joined,
)
from named_architecture_entity_recognition_spark.operators.occurrences import (
    charset_key,
)
from named_architecture_entity_recognition_spark.operators.profile import profile_table
from named_architecture_entity_recognition_spark.operators.rangejoin import range_join
from named_architecture_entity_recognition_spark.operators.rollup import (
    rollup_hypertable,
)
from named_architecture_entity_recognition_spark.operators.search import search_topk
from named_architecture_entity_recognition_spark.operators.similarity import (
    cosine, cosine_topk, cosine_topk_int8, cosine_topk_ivf, cosine_topk_lsh,
)
from named_architecture_entity_recognition_spark.operators.sketch import (
    heavy_hitters, hist_quantile_expr, hist_sketch, kmv_distinct,
)
from named_architecture_entity_recognition_spark.operators.skew import (
    salted_count, salted_join,
)
from named_architecture_entity_recognition_spark.operators.textstats import (
    PII_PATTERNS, collocations, fingerprint, lang_id, lm_score, mean_word_length,
    quality_score, redact_pii, repetition_stats, stopword_ratio, token_count,
    tokens, vocab_topk, word_count,
)
from named_architecture_entity_recognition_spark.parsers.answers import (
    ERR_NO_JSON_ARRAY, EXPECTED_JSON_FORMAT, parse_structured_answers, repair_parse,
)
from named_architecture_entity_recognition_spark.plans.evaluate import evaluate
from named_architecture_entity_recognition_spark.plans.pipeline import (
    RecognizerPipeline,
)
from named_architecture_entity_recognition_spark.session import ensure_parallelism
from named_architecture_entity_recognition_spark.streaming.sessions import (
    sessionize_batch,
)
from named_architecture_entity_recognition_spark.streaming.stream import (
    windowed_event_counts,
)

SF_DEFAULT = "/root/testdata/sf0.001"

#: query name -> (builder, DuckDB oracle SQL), filled by ``@_oracle``
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def _oracle(sql: str):
    """Declare the decorated ``_q_<name>`` builder as driver query
    ``q_<name>`` with ``sql`` as its DuckDB oracle. Declaring a name
    twice raises at import instead of silently replacing the first
    builder."""

    def register(fn):
        name = fn.__name__.lstrip("_")
        if name in _REGISTRY:
            raise ValueError(f"driver query {name!r} is declared twice")
        _REGISTRY[name] = (fn, sql)
        return fn

    return register


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ann_queries(e: DataFrame) -> DataFrame:
    """The ANN queries: the first five corpus vectors."""
    return e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


# ---------------------------------------------------------------- flagship


def _flat_to_spans_docs(docs: DataFrame, words_per_sentence: int = 8) -> DataFrame:
    """Deterministically reshape the flat documents table into the
    input_hint interleaved shape: chunk words into sentences (declarative
    — no Python).

    Input conditioning: the sf0.1 fixture is ONE ~3 MB parquet file, so
    the scan plans a single partition and the whole downstream Python
    matcher would serialize behind one core (measured: 2.9 s where the
    matcher work is ~0.1 s across 32 cores). When the scan's
    parallelism is below the session's core count, repartition the tiny
    text input first — one cheap exchange that unlocks every core. On a
    real 100 TB table splits >> cores and this branch never fires."""
    docs = ensure_parallelism(docs)
    w = F.split(F.trim("text"), r"\s+")
    n_chunks = F.greatest(F.ceil(F.size(w) / words_per_sentence), F.lit(1)).cast("int")
    sentences = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(w, i * words_per_sentence + 1, words_per_sentence)),
            F.lit("."),
        ),
    )
    spans = F.zip_with(
        sentences,
        F.sequence(F.lit(1), n_chunks),
        lambda s, o: F.struct(
            F.lit("text").alias("kind"),
            s.alias("text"),
            F.lit("").alias("media_ref"),
            o.alias("offset"),
        ),
    )
    return docs.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        spans.alias("spans"),
    )


#: dictionary for the flagship run over the synthetic word-soup corpus
_FLAGSHIP_GAZETTEER = [
    "spark", "merge", "scan", "window", "batch", "hash", "sort", "agg",
    "table", "row",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> mentions -> entities -> KG triples."""
    docs = _flat_to_spans_docs(_read(spark, SF_DEFAULT, "documents"))
    pipe = RecognizerPipeline(_FLAGSHIP_GAZETTEER, validate=False)
    return pipe.triples(docs)


# ------------------------------------------------------- oracle fragments
# SQL shared across the oracles; a fragment that serves one query family
# sits next to it.

#: the lowercased text split on whitespace (textstats.tokens before the
#: empty-token filter)
_WORDS = "string_split_regex(trim(lower(text)), '\\s+')"
#: textstats.tokens: _WORDS without empty tokens
_TOKENS = f"list_filter({_WORDS}, w -> w != '')"
#: 3-word shingles of _WORDS
_SHINGLES = (
    "list_transform(generate_series(1, greatest(len({w}) - 2, 0)), "
    "i -> array_to_string({w}[i:i+2], ' '))"
).format(w=_WORDS)
_STOPWORDS = "'the','a','an','and','or','of','to','in','is','are','for','on','with','as','by','it','this','that','from','at','be'"


def _cos(a: str, b: str) -> str:
    """Cosine similarity of two DOUBLE[] expressions."""
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})))"
    )


# ---------------------------------------------------------------- queries

@_oracle(
    "SELECT doc_id, (text IS NOT NULL AND length(trim(text)) > 0 "
    "AND regexp_matches(trim(text), '[.!?]$')) AS is_valid FROM documents"
)
def _q_validate_f1(spark, sf):
    d = _read(spark, sf, "documents")
    t = F.trim("text")
    return d.select(
        "doc_id",
        (
            F.col("text").isNotNull()
            & (F.length(t) > 0)
            & t.rlike(r"[.!?]$")
        ).alias("is_valid"),
    )


@_oracle(
    "SELECT doc_id, string_split(text, ' ')[5] AS w5 FROM documents "
    "WHERE len(string_split(text, ' ')) >= 5"
)
def _q_line_projection_f2(spark, sf):
    d = _read(spark, sf, "documents")
    w = F.split("text", " ")
    return d.filter(F.size(w) >= 5).select(
        "doc_id", w[4].alias("w5")
    )


@_oracle(
    "SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), "
    "'\\btable\\b', '', 'g'), '\\s+', ' ', 'g')) AS cleaned FROM documents"
)
def _q_clean_name_f6(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), r"\btable\b", ""), r"\s+", " "
            )
        ).alias("cleaned"),
    )


@_oracle(
    "SELECT doc_id, array_to_string(list_sort(list_distinct("
    "string_split(lower(text), ''))), '') AS ckey FROM documents"
)
def _q_charset_key_j1(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select("doc_id", charset_key("text").alias("ckey"))


@_oracle(
    "SELECT a.doc_id, round(jaccard(lower(a.text), lower(b.text)), 6)"
    " AS jaccard FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1"
)
def _q_jaccard_pairs_j1(spark, sf):
    d = _read(spark, sf, "documents").select("doc_id", "text")
    a = d.alias("a")
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("text_b")
    ).alias("b")
    pairs = a.join(b, "doc_id")
    ca = F.array_distinct(F.split(F.lower("text"), ""))
    cb = F.array_distinct(F.split(F.lower("text_b"), ""))
    return pairs.select(
        "doc_id",
        F.round(
            F.size(F.array_intersect(ca, cb))
            / F.size(F.array_union(ca, cb)),
            6,
        ).alias("jaccard"),
    )


@_oracle(
    "SELECT o_custkey, best_order, best_price FROM ("
    "SELECT o_custkey, o_orderkey AS best_order, "
    "round(o_totalprice, 2) AS best_price, row_number() OVER ("
    "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC"
    ") AS rn FROM orders) WHERE rn = 1"
)
def _q_argmax_window_a7(spark, sf):
    o = _read(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_order"),
            F.round("o_totalprice", 2).alias("best_price"),
        )
    )


@_oracle(
    "SELECT o_custkey, count(*)::BIGINT AS n_orders, "
    "array_to_string(list_sort(list(o_orderkey::VARCHAR)), ',') AS order_keys "
    "FROM orders GROUP BY o_custkey"
)
def _q_group_collect_a1(spark, sf):
    o = _read(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.concat_ws(",", F.array_sort(F.collect_list(F.col("o_orderkey").cast("string")))).alias(
            "order_keys"
        ),
    )


@_oracle("SELECT DISTINCT lang, source FROM documents")
def _q_dedup_a3(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select("lang", "source").dropDuplicates()


@_oracle(
    "SELECT doc_id, CASE WHEN contains(lower(text), 'spark') OR "
    "contains(lower(text), 'shuffle') THEN 'DIRECT' ELSE 'INDIRECT' END"
    " AS ref_type FROM documents"
)
def _q_direct_classify_j2(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.when(
            F.lower("text").contains("spark") | F.lower("text").contains("shuffle"),
            F.lit("DIRECT"),
        )
        .otherwise(F.lit("INDIRECT"))
        .alias("ref_type"),
    )


@_oracle(
    "WITH rec AS (SELECT doc_id FROM documents WHERE contains(lower(text), 'spark')), "
    "gold AS (SELECT doc_id FROM documents WHERE n_chars > 150), "
    "m AS (SELECT (SELECT count(*) FROM rec JOIN gold USING (doc_id))::BIGINT tp, "
    "(SELECT count(*) FROM rec WHERE doc_id NOT IN (SELECT doc_id FROM gold))::BIGINT fp, "
    "(SELECT count(*) FROM gold WHERE doc_id NOT IN (SELECT doc_id FROM rec))::BIGINT fn) "
    "SELECT tp, fp, fn, round(tp / greatest(tp + fp, 1), 6)::DOUBLE AS precision, "
    "round(tp / greatest(tp + fn, 1), 6)::DOUBLE AS recall FROM m"
)
def _q_eval_pr_j5(spark, sf):
    """Single-job P/R: one full-outer join + one aggregate (no
    driver-side counts; the whole metric is one Spark job)."""
    d = _read(spark, sf, "documents")
    rec = d.filter(F.lower("text").contains("spark")).select(
        "doc_id", F.lit(1).alias("r")
    )
    gold = d.filter(F.col("n_chars") > 150).select(
        "doc_id", F.lit(1).alias("g")
    )
    j = rec.join(gold, "doc_id", "full")
    agg = j.agg(
        F.sum(F.when(F.col("r").isNotNull() & F.col("g").isNotNull(), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when(F.col("g").isNull(), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(F.col("r").isNull(), 1).otherwise(0)).cast("long").alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6
        ).alias("precision"),
        F.round(
            F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6
        ).alias("recall"),
    )


@_oracle(
    # the evaluate plan must land on these exact per-mode
    # constants (derivation in _q_eval_pr_complex's docstring)
    "WITH p AS (SELECT 'doc' || doc_id AS doc_id, "
    "doc_id % 2 = 0 AS even FROM documents) "
    "SELECT doc_id, 'simple' AS mode, "
    "(CASE WHEN even THEN 2 ELSE 1 END)::BIGINT AS tp, "
    "0::BIGINT AS fp, "
    "(CASE WHEN even THEN 0 ELSE 1 END)::BIGINT AS fn, "
    "1.0::DOUBLE AS precision, "
    "(CASE WHEN even THEN 1.0 ELSE 0.5 END)::DOUBLE AS recall, "
    "(CASE WHEN even THEN 1.0 ELSE 0.666667 END)::DOUBLE AS f1 "
    "FROM p "
    "UNION ALL SELECT doc_id, 'complex', 1::BIGINT, "
    "(CASE WHEN even THEN 1 ELSE 0 END)::BIGINT, 1::BIGINT, "
    "(CASE WHEN even THEN 0.5 ELSE 1.0 END)::DOUBLE, 0.5::DOUBLE, "
    "(CASE WHEN even THEN 0.5 ELSE 0.666667 END)::DOUBLE FROM p"
)
def _q_eval_pr_complex(spark, sf):
    """Reference-type-aware evaluation: the extension named by the empty
    placeholder test/.../ComplexComponentOccurrence.java:4-6 — occurrence
    identity is (name, sentence, ref_type) instead of (name, sentence).
    Both eval modes run over the same synthetic rec/gold (even docs carry
    an extra INDIRECT occurrence that simple mode credits but complex
    mode double-faults, since gold is all-DIRECT per
    GoldstandardParser.java:270-297); the full distributed evaluate plan
    (alias pools, name unification join, dedup, anti-joins) must land on
    the exact per-mode constants."""
    d = _read(spark, sf, "documents")
    w = F.split(F.trim("text"), r"\s+")
    even = F.pmod("doc_id", F.lit(2)) == 0
    occ = lambda n, t: F.struct(  # noqa: E731
        F.lit(n).alias("sent_no"), F.lit(t).alias("ref_type")
    )
    rec = d.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        w[0].alias("name"),
        F.lit("COMPONENT").alias("entity_type"),
        F.array(w[1]).alias("alternative_names"),
        F.when(
            even, F.array(occ(1, "DIRECT"), occ(2, "INDIRECT"))
        ).otherwise(F.array(occ(1, "DIRECT"))).alias("occurrences"),
    )
    gold = d.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        w[1].alias("component_name"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("sentence"),
    )
    simple = evaluate(rec, gold, "simple").withColumn("mode", F.lit("simple"))
    cx = evaluate(rec, gold, "complex").withColumn("mode", F.lit("complex"))
    out = simple.unionByName(cx)
    return out.select(
        "doc_id",
        "mode",
        "tp",
        "fp",
        "fn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


@_oracle(
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2)::DOUBLE AS sum_qty, "
    "round(sum(l_extendedprice), 2)::DOUBLE AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE AS sum_disc_price, "
    "round(avg(l_quantity), 4)::DOUBLE AS avg_qty, "
    "round(avg(l_discount), 4)::DOUBLE AS avg_disc, "
    "count(*)::BIGINT AS count_order FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
)
def _q_pricing_summary(spark, sf):
    li = _read(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@_oracle(
    "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2)::DOUBLE"
    " AS revenue, count(*)::BIGINT AS n_lineitems FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
)
def _q_revenue_by_nation(spark, sf):
    li = _read(spark, sf, "lineitem")
    o = _read(spark, sf, "orders")
    c = _read(spark, sf, "customer")
    n = _read(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
    )


@_oracle(
    "SELECT c_mktsegment, top_custkey, top_acctbal FROM ("
    "SELECT c_mktsegment, c_custkey AS top_custkey, "
    "round(c_acctbal, 2)::DOUBLE AS top_acctbal, row_number() OVER ("
    "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC"
    ") AS rn FROM customer) WHERE rn = 1"
)
def _q_segment_top_customer(spark, sf):
    c = _read(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("c_custkey").alias("top_custkey"),
            F.round("c_acctbal", 2).alias("top_acctbal"),
        )
    )


@_oracle(
    "SELECT event_type, count(*)::BIGINT AS n_events, "
    "count(DISTINCT user_id)::BIGINT AS n_users, "
    "round(sum(value), 2)::DOUBLE AS total_value FROM events GROUP BY event_type"
)
def _q_events_rollup(spark, sf):
    e = _read(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@_oracle(
    "SELECT md5(trim(lower(text))) AS text_hash, count(*)::BIGINT AS n_dups, "
    "min(doc_id) AS keep_id FROM documents GROUP BY 1"
)
def _q_exact_dedup(spark, sf):
    return exact_dedup_groups(_read(spark, sf, "documents"))


#: ExactSubstr span windows: 8-token windows whose md5 occurs >= 2
#: times corpus-wide, merged per doc by gaps-and-islands (a new island
#: starts when i > prev_i + 8, i.e. past overlap-or-adjacent). Leaves
#: ws(doc_id, w) and isl(doc_id, i, island) open for the caller.
_DUP_SPAN_ISLANDS = (
    f"WITH ws AS (SELECT doc_id, {_WORDS} AS w FROM documents), "
    "win AS (SELECT doc_id, i, "
    "md5(array_to_string(w[i:i+7], ' ')) AS h "
    "FROM ws, unnest(generate_series(1, greatest(len(w) - 7, 0))) "
    "AS t(i)), "
    "dup AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2), "
    "d AS (SELECT win.doc_id, win.i FROM win JOIN dup USING (h)), "
    "isl AS (SELECT doc_id, i, sum(CASE WHEN prev IS NULL OR "
    "i > prev + 8 THEN 1 ELSE 0 END) OVER "
    "(PARTITION BY doc_id ORDER BY i) AS island FROM "
    "(SELECT doc_id, i, lag(i) OVER "
    "(PARTITION BY doc_id ORDER BY i) AS prev FROM d))"
)


@_oracle(
    _DUP_SPAN_ISLANDS + " SELECT doc_id, min(i)::INT AS span_start, "
    "(max(i) + 7)::INT AS span_end, count(*)::BIGINT AS n_windows "
    "FROM isl GROUP BY doc_id, island"
)
def _q_dup_spans(spark, sf):
    """Span-level exact dedup (ExactSubstr shape, Lee et al. 2022):
    merged per-doc intervals of 8-token windows whose md5 occurs >= 2
    times corpus-wide. Complements the doc-level dedups — catches the
    boilerplate runs INSIDE otherwise-unique documents. Oracle
    recomputes the windows + gaps-and-islands merge in DuckDB
    byte-identically (md5-portable tokenized windows)."""
    # same input conditioning as _flat_to_spans_docs: the single-file
    # fixture otherwise serializes all window hashing behind one core
    docs = ensure_parallelism(_read(spark, sf, "documents"))
    return dup_span_intervals(docs, window=8, min_count=2)


@_oracle(
    # compose the q_dup_spans cuts with a position filter: every
    # token whose 1-based index falls inside a duplicated
    # interval is dropped, remainder re-joined with spaces
    _DUP_SPAN_ISLANDS + ", cuts AS (SELECT doc_id, "
    "flatten(list(range_list)) AS rm FROM "
    "(SELECT doc_id, generate_series(min(i), max(i) + 7) "
    "AS range_list FROM isl GROUP BY doc_id, island) "
    "GROUP BY doc_id), "
    "j AS (SELECT ws.doc_id, ws.w, coalesce(cuts.rm, []) AS rm "
    "FROM ws LEFT JOIN cuts ON ws.doc_id = cuts.doc_id) "
    # coalesce: DuckDB array_to_string([]) is NULL, Spark
    # concat_ws of an empty array is ''
    "SELECT doc_id, coalesce(array_to_string(list_filter(w, "
    "(t, i) -> NOT list_contains(rm, i)), ' '), '') AS clean_text, "
    "(len(w) - len(list_filter(w, "
    "(t, i) -> NOT list_contains(rm, i))))::BIGINT "
    "AS n_tokens_removed FROM j"
)
def _q_remove_dup_spans(spark, sf):
    """The ExactSubstr ACTION step: documents with every duplicated
    8-token interval cut out (operators/dedup.remove_dup_spans); the
    oracle recomputes the cuts and the position filter in DuckDB."""
    docs = ensure_parallelism(_read(spark, sf, "documents"))
    return remove_dup_spans(docs, window=8, min_count=2)


#: minhash_signature(text, 4, 3): per md5 seed 0..3, the least hash of
#: the 3-word shingles
_MINHASH = (
    "list_transform(generate_series(0, 3), "
    f"seed -> list_min(list_transform({_SHINGLES}, s -> md5(seed::VARCHAR || s))))"
)


def _lsh_pairs_sql(src: str) -> str:
    """sig -> banded -> pairs CTEs over ``src`` (doc_id, text): 4 hashes
    in 2 bands of 2, candidate pairs doc_a < doc_b — the q_lsh_pairs
    parameters, shared by every near-dup oracle."""
    return (
        f"sig AS (SELECT doc_id, {_MINHASH} AS s FROM {src}), "
        "banded AS (SELECT doc_id, b AS band_idx, "
        "array_to_string(s[b*2+1:b*2+2], '|') AS band_key "
        "FROM sig, unnest(generate_series(0, 1)) AS tt(b)), "
        "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM banded a JOIN banded b ON a.band_idx = b.band_idx "
        "AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"
    )


def _cc_reach_sql(rel: str, a: str, b: str) -> str:
    """edges -> nodes -> reach CTEs: connected components of the
    undirected graph with one edge a-b per row of ``rel``, as
    reach(node, comp) where comp is the least label a recursive closure
    reaches (the operators/cc.py answer)."""
    return (
        f"edges AS (SELECT {a} AS src, {b} AS dst FROM {rel} "
        f"UNION SELECT {b}, {a} FROM {rel}), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "reach AS (WITH RECURSIVE r(node, lbl) AS ("
        "SELECT node, node FROM nodes UNION "
        "SELECT e.src, r.lbl FROM edges e JOIN r ON e.dst = r.node) "
        "SELECT node, min(lbl) AS comp FROM r GROUP BY node)"
    )


@_oracle(
    f"SELECT doc_id, array_to_string({_MINHASH}, '|') AS sig "
    "FROM documents"
)
def _q_minhash_sig(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat_ws("|", minhash_signature(F.col("text"), 4, 3)).alias("sig"),
    )


@_oracle("WITH " + _lsh_pairs_sql("documents") + " SELECT doc_a, doc_b FROM pairs")
def _q_lsh_pairs(spark, sf):
    return minhash_lsh_pairs(
        _read(spark, sf, "documents"), n_hashes=4, bands=2, shingle_n=3
    )


@_oracle(
    "WITH " + _lsh_pairs_sql("documents") + ", "
    + _cc_reach_sql("pairs", "doc_a", "doc_b")
    + " SELECT d.doc_id, coalesce(rc.comp, d.doc_id) AS cluster_id, "
    "(coalesce(rc.comp, d.doc_id) = d.doc_id) AS keep "
    "FROM documents d LEFT JOIN reach rc ON rc.node = d.doc_id"
)
def _q_dup_clusters(spark, sf):
    """Near-dup CLUSTERS (the actionable form of dedup at scale):
    LSH doc <-> bucket edges -> connected components -> per-document
    (cluster_id, keep) verdict; singletons keep themselves. Same LSH
    params as q_lsh_pairs; the oracle closes that CTE's pair graph,
    which has the same components, with a recursive CTE."""
    return dup_clusters(
        _read(spark, sf, "documents"), n_hashes=4, bands=2, shingle_n=3
    )


#: hash_split(salt "split-v1", train 0.8 / val 0.1 / test 0.1) of a
#: relation with frac = _SPLIT_FRAC. The boundaries replicate the
#: operator's float arithmetic bit for bit (0.8+0.1 != 0.9 in IEEE
#: doubles), embedding exact reprs.
_SPLIT_FRAC = (
    "('0x' || substr(md5('split-v1' || doc_id::VARCHAR), 1, 8))::UBIGINT"
    "::DOUBLE / 4294967296.0"
)
_SPLIT_WEIGHTS = (0.8, 0.1, 0.1)
_SPLIT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN frac < {cum!r} THEN '{name}'"
        for name, cum in zip(
            ("train", "val"),
            accumulate(w / sum(_SPLIT_WEIGHTS) for w in _SPLIT_WEIGHTS),
        )
    )
    + " ELSE 'test' END"
)


@_oracle(
    f"WITH f AS (SELECT doc_id, {_SPLIT_FRAC} AS frac FROM documents) "
    f"SELECT doc_id, {_SPLIT_CASE} AS split FROM f"
)
def _q_hash_split(spark, sf):
    """Deterministic train/val/test split by md5 hash bucket: stable
    across runs/engines/backfills, no shuffle, no Python."""
    return hash_split(
        _read(spark, sf, "documents").select("doc_id"), salt="split-v1"
    )


@_oracle(
    "WITH t AS (SELECT doc_id, source AS part, "
    "len(string_split_regex(trim(text), '\\s+'))::INT AS n_tokens "
    "FROM documents), "
    "p AS (SELECT doc_id, part, n_tokens, "
    "floor(coalesce(sum(n_tokens) OVER (PARTITION BY part ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)::INT "
    "AS pack_no FROM t) "
    "SELECT doc_id, part, n_tokens, pack_no, "
    "part || '#' || pack_no::VARCHAR AS pack_id FROM p"
)
def _q_pack_sequences(spark, sf):
    """Token-budget sequence packing: greedy prefix packing per source
    via ONE window (exclusive running sum / budget); last doc of a pack
    may overflow by one document (approximate packing by design)."""
    return pack_sequences(
        _read(spark, sf, "documents"), budget_tokens=256, part_col="source"
    )


@_oracle(
    f"WITH ev0 AS (SELECT doc_id AS eval_id, list_distinct({_SHINGLES}) AS shl "
    "FROM documents WHERE doc_id % 10 = 0), "
    "ev AS (SELECT eval_id, unnest(shl) AS sh FROM ev0), "
    "evs AS (SELECT eval_id, len(shl) AS n FROM ev0), "
    f"tr AS (SELECT doc_id AS train_id, unnest(list_distinct({_SHINGLES})) AS sh "
    "FROM documents WHERE doc_id % 10 != 0), "
    "shared AS (SELECT eval_id, train_id, count(*) AS n_shared "
    "FROM ev JOIN tr USING (sh) GROUP BY 1, 2) "
    "SELECT eval_id, train_id, round(n_shared / n, 6) AS containment "
    "FROM shared JOIN evs USING (eval_id) "
    "WHERE round(n_shared / n, 6) >= 0.05"
)
def _q_contamination(spark, sf):
    """Benchmark-contamination check: shingle-containment of eval docs
    (doc_id%10==0) inside train docs — inverted-index join on the
    shingle, never all-pairs; containment is asymmetric (a train doc
    fully containing an eval doc scores 1.0 regardless of its length)."""
    d = _read(spark, sf, "documents")
    ev = d.filter(F.pmod("doc_id", F.lit(10)) == 0)
    tr = d.filter(F.pmod("doc_id", F.lit(10)) != 0)
    return contamination(tr, ev, shingle_n=3, threshold=0.05)


#: textstats token statistics of a token list ws: count n, stopwords sw,
#: letters chars, and the quality_score over them
_QUALITY_STATS = (
    f"len(ws) AS n, len(list_filter(ws, w -> w IN ({_STOPWORDS}))) AS sw, "
    "list_sum(list_transform(ws, w -> length(w))) AS chars"
)
_QUALITY = (
    "round(((n BETWEEN 10 AND 10000)::INT + "
    "(sw * 1.0 / greatest(n, 1) BETWEEN 0.05 AND 0.6)::INT + "
    "(chars * 1.0 / greatest(n, 1) BETWEEN 2.0 AND 12.0)::INT) / 3.0, 6)"
)
#: textstats.lang_id of a token list ws: stopword hits per language, then
#: the verdict over en/de/fr/es
_LANG_COUNTS = (
    "len(list_filter(ws, w -> w IN ('the','and','of','to','is'))) AS en, "
    "len(list_filter(ws, w -> w IN ('der','die','das','und','ist'))) AS de, "
    "len(list_filter(ws, w -> w IN ('le','la','les','et','est'))) AS fr, "
    "len(list_filter(ws, w -> w IN ('el','la','los','y','es'))) AS es"
)
_LANG_CASE = (
    "CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und' "
    "WHEN en >= de AND en >= fr AND en >= es THEN 'en' "
    "WHEN de >= fr AND de >= es THEN 'de' "
    "WHEN fr >= es THEN 'fr' ELSE 'es' END"
)
#: textstats.fingerprint: md5 of the whitespace-normalized lowercase text
_FINGERPRINT = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"


@_oracle(
    # the full funnel assembled from the proven per-stage
    # oracles: q_lang_id CASE + q_quality expr -> q_fingerprint
    # window -> q_dup_clusters LSH+recursive-CTE (FROM the
    # filtered set) -> q_hash_split boundaries
    f"WITH t AS (SELECT doc_id, text, {_TOKENS} AS ws FROM documents), "
    f"m AS (SELECT doc_id, text, {_QUALITY_STATS}, {_LANG_COUNTS} FROM t), "
    f"pre AS (SELECT doc_id, text, CASE WHEN NOT ({_LANG_CASE}) = 'en' "
    f"THEN 'lang' WHEN {_QUALITY} < 0.9 THEN 'quality' END AS pre_reason "
    "FROM m), "
    "s1 AS (SELECT doc_id, text FROM pre WHERE pre_reason IS NULL), "
    f"fpr AS (SELECT doc_id, text, row_number() OVER (PARTITION BY {_FINGERPRINT} "
    "ORDER BY doc_id) AS rn FROM s1), "
    "s2 AS (SELECT doc_id, text FROM fpr WHERE rn = 1), "
    + _lsh_pairs_sql("s2") + ", " + _cc_reach_sql("pairs", "doc_a", "doc_b") + ", "
    "cl AS (SELECT s2.doc_id, coalesce(rc.comp, s2.doc_id) AS cluster_id "
    "FROM s2 LEFT JOIN reach rc ON rc.node = s2.doc_id), "
    f"splits AS (SELECT doc_id, {_SPLIT_FRAC} AS frac FROM cl "
    "WHERE cluster_id = doc_id) "
    f"SELECT doc_id, 'kept' AS status, {_SPLIT_CASE} AS split FROM splits "
    "UNION ALL SELECT doc_id, pre_reason, NULL FROM pre "
    "WHERE pre_reason IS NOT NULL "
    "UNION ALL SELECT doc_id, 'exact_dup', NULL FROM fpr WHERE rn > 1 "
    "UNION ALL SELECT doc_id, 'near_dup', NULL FROM cl "
    "WHERE cluster_id != doc_id"
)
def _q_prepare_corpus(spark, sf):
    """The composed data-prep funnel (lang filter -> quality filter ->
    exact dedup -> LSH+CC near-dup clusters -> hash split): one status
    row per input doc with a drop reason or a kept split. All five
    stage outcomes are exercised on this corpus and the whole funnel is
    value-oracled end-to-end."""
    return prepare_corpus(_read(spark, sf, "documents"))


@_oracle(
    # per-n stats via unnest+group (relationally clearest);
    # must equal the engine's sorted run-length aggregate
    f"WITH t AS (SELECT doc_id, {_TOKENS} "
    "AS ws FROM documents), "
    "g AS (SELECT doc_id, len(ws) AS nw, "
    "CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), "
    "i -> array_to_string(ws[i:i+1], ' ')) ELSE []::VARCHAR[] END AS g2, "
    "CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws)-1), "
    "i -> array_to_string(ws[i:i+2], ' ')) ELSE []::VARCHAR[] END AS g3, "
    "CASE WHEN len(ws) >= 5 THEN list_transform(range(1, len(ws)-3), "
    "i -> array_to_string(ws[i:i+4], ' ')) ELSE []::VARCHAR[] END AS g5 "
    "FROM t), "
    "c2 AS (SELECT doc_id, gram, count(*) AS c FROM "
    "(SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY 1, 2), "
    "s2 AS (SELECT doc_id, max(c) AS maxc, sum(c) AS tot FROM c2 GROUP BY 1), "
    "c3 AS (SELECT doc_id, gram, count(*) AS c FROM "
    "(SELECT doc_id, unnest(g3) AS gram FROM g) GROUP BY 1, 2), "
    "s3 AS (SELECT doc_id, max(c) AS maxc, sum(c) AS tot FROM c3 GROUP BY 1), "
    "c5 AS (SELECT doc_id, gram, count(*) AS c FROM "
    "(SELECT doc_id, unnest(g5) AS gram FROM g) GROUP BY 1, 2), "
    "s5 AS (SELECT doc_id, sum(c) - count(*) AS dups, sum(c) AS tot "
    "FROM c5 GROUP BY 1), "
    "f AS (SELECT g.doc_id, g.nw, "
    "coalesce(round(s2.maxc / s2.tot::DOUBLE, 6), 0.0) AS top2gram_frac, "
    "coalesce(round(s3.maxc / s3.tot::DOUBLE, 6), 0.0) AS top3gram_frac, "
    "coalesce(round(s5.dups / s5.tot::DOUBLE, 6), 0.0) AS dup5gram_frac "
    "FROM g LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id) "
    "LEFT JOIN s5 USING (doc_id)) "
    "SELECT doc_id, top2gram_frac, top3gram_frac, dup5gram_frac, "
    "(nw >= 20 AND (top2gram_frac > 0.2 OR top3gram_frac > 0.18 "
    "OR dup5gram_frac > 0.3)) AS repetitive FROM f"
)
def _q_repetition(spark, sf):
    """Gopher/C4-style repetition filters: top-2/3-gram fraction and
    duplicate-5-gram fraction per doc + a thresholded verdict. Per-row
    Catalyst HOFs (n-gram array -> sort -> one linear run-length
    aggregate): zero shuffle, zero Python."""
    return repetition_stats(_read(spark, sf, "documents"))


@_oracle(
    "WITH f AS (SELECT doc_id, source, "
    "('0x' || substr(md5('mix-v1' || doc_id::VARCHAR), 1, 8))::UBIGINT"
    "::DOUBLE / 4294967296.0 AS frac FROM documents) "
    "SELECT doc_id, source FROM f WHERE frac < (CASE source "
    "WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 "
    "ELSE 0.1 END)"
)
def _q_sample_mixture(spark, sf):
    """Deterministic domain-mixture sampling: md5-hash Bernoulli with a
    per-source rate (reproducible, backfill-stable, and nested — the
    30% sample is a subset of the 50% sample). Pure per-row filter."""
    return sample_mixture(
        _read(spark, sf, "documents"),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    ).select("doc_id", "source")


@_oracle(
    "WITH t AS (SELECT doc_id, "
    f"unnest({_TOKENS}) AS token "
    "FROM documents) "
    "SELECT token, count(DISTINCT doc_id) AS n_docs, "
    "count(*) AS n_occurrences FROM t GROUP BY token "
    "ORDER BY n_occurrences DESC, token ASC LIMIT 100"
)
def _q_vocab_topk(spark, sf):
    """Corpus-wide top-100 vocabulary: one hash aggregate with map-side
    partial aggregation (shuffle = distinct tokens, not occurrences),
    top-k via TakeOrderedAndProject, deterministic tie-break."""
    return vocab_topk(_read(spark, sf, "documents"), k=100)


@_oracle(
    "WITH tok AS (SELECT doc_id, "
    f"len({_TOKENS}) AS dl, "
    f"{_TOKENS} AS toks FROM documents), "
    "p AS (SELECT term, doc_id, dl, count(*) AS tf FROM "
    "(SELECT doc_id, dl, unnest(toks) AS term FROM tok) "
    "WHERE term IN ('hash','join','vector') "
    "GROUP BY term, doc_id, dl), "
    "s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM tok), "
    "d AS (SELECT term, count(*) AS df FROM p GROUP BY term) "
    "SELECT doc_id, round(sum("
    "ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) "
    "* (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))"
    "), 4) AS score "
    "FROM p JOIN d USING (term) CROSS JOIN s "
    "GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10"
)
def _q_bm25_topk(spark, sf):
    """BM25 ranked retrieval over the corpus for a 3-term query: the
    inverted-index build is ONE partial-agg groupBy; the query touches
    only the broadcast-semi-joined postings sliver; top-k is
    TakeOrderedAndProject. Oracle re-derives the identical scores in
    DuckDB (same tokenizer, same Lucene-style +1 idf)."""
    return search_topk(
        _read(spark, sf, "documents"), ["hash", "join", "vector"], k=10
    )


@_oracle(
    "WITH s AS (SELECT min(l_partkey)::DOUBLE AS lo0, "
    "max(l_partkey)::DOUBLE AS hi0, min(l_suppkey)::DOUBLE AS lo1, "
    "max(l_suppkey)::DOUBLE AS hi1 FROM lineitem), "
    "b AS (SELECT l_orderkey, l_linenumber, "
    "floor((l_partkey::DOUBLE - lo0) * 256.0 / (hi0 - lo0 + 1.0))"
    "::BIGINT AS b0, "
    "floor((l_suppkey::DOUBLE - lo1) * 256.0 / (hi1 - lo1 + 1.0))"
    "::BIGINT AS b1 FROM lineitem CROSS JOIN s) "
    "SELECT l_orderkey, l_linenumber, ("
    + " | ".join(
        f"(((b{j} >> {i}) & 1) << {i * 2 + j})"
        for i in range(8)
        for j in (0, 1)
    )
    + ") AS z FROM b"
)
def _q_zorder_key(spark, sf):
    """Morton (Z-order) clustering key over (l_partkey, l_suppkey):
    exact fixed-width buckets of one broadcast min/max row, then a pure
    codegen'd bit-interleave — range-sorting by it lets parquet footer
    stats prune on BOTH dimensions. Oracle rebuilds
    the identical bucket + bit math in DuckDB."""
    li = _read(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return zorder_key(li, ["l_partkey", "l_suppkey"], bits=8).select(
        "l_orderkey", "l_linenumber", "z"
    )


def _pagerank_sql() -> str:
    """Unrolled 10-iteration PageRank recurrence (same math, same
    rounding as operators/graph.py pagerank)."""
    steps = []
    prev = "r0"
    for t in range(1, 11):
        steps.append(
            f"r{t} AS (SELECT nd.node, 0.15/(SELECT n FROM nn) + "
            "0.85 * coalesce(c.s, 0.0) AS rank FROM nodes nd "
            f"LEFT JOIN (SELECT e.dst AS node, sum({prev}.rank / od.outdeg) "
            f"AS s FROM e JOIN {prev} ON {prev}.node = e.src "
            "JOIN od ON od.src = e.src GROUP BY e.dst) c USING (node))"
        )
        prev = f"r{t}"
    return (
        "WITH e AS (SELECT DISTINCT 'p' || l_partkey::VARCHAR AS src, "
        "'s' || l_suppkey::VARCHAR AS dst FROM lineitem), "
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes), "
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), "
        "r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes), "
        + ", ".join(steps)
        + f" SELECT node, round(rank, 6) AS rank FROM {prev}"
    )


@_oracle(_pagerank_sql())
def _q_pagerank(spark, sf):
    """PageRank (10 fixed iterations, d=0.85) over the part->supplier
    graph: per iteration ONE partial-agg contribution shuffle; static
    edge frame checkpointed once; DuckDB oracle unrolls the identical
    recurrence 10 times (rank rounded to 6 to absorb sum-order float
    noise)."""
    e = _read(spark, sf, "lineitem").select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return pagerank(e, damping=0.85, iterations=10)


@_oracle(
    f"WITH t AS (SELECT doc_id, {_TOKENS} AS w FROM documents), "
    "bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM "
    "(SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) "
    "AS i FROM t WHERE len(w) >= 2)), "
    "pair AS (SELECT w1, w2, count(*)::DOUBLE AS n FROM bg "
    "GROUP BY 1, 2), "
    "hist AS (SELECT w1, count(*)::DOUBLE AS h FROM bg "
    "GROUP BY 1), "
    "v AS (SELECT count(DISTINCT x)::DOUBLE AS v FROM "
    "(SELECT unnest(w) AS x FROM t)), "
    "scored AS (SELECT bg.doc_id, "
    "ln((pair.n + 0.5) / (hist.h + 0.5 * v.v)) AS lp "
    "FROM bg JOIN pair USING (w1, w2) JOIN hist USING (w1) "
    "CROSS JOIN v) "
    "SELECT doc_id, count(*)::BIGINT AS n_bigrams, "
    "round(-avg(lp), 4) AS cross_entropy "
    "FROM scored GROUP BY doc_id"
)
def _q_lm_score(spark, sf):
    """CCNet-style perplexity filter signal: smoothed bigram LM trained
    on the corpus itself, each doc scored by bigram cross-entropy.
    Oracle rebuilds counts + smoothing + per-doc average in DuckDB
    (round(4) absorbs float sum-order noise, same policy as the other
    sum-based queries)."""
    out = lm_score(_read(spark, sf, "documents"))
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("cross_entropy", 4).alias("cross_entropy"),
    )


@_oracle(
    "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v "
    "FROM embeddings), "
    "dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx "
    "FROM c, (SELECT unnest(generate_series(1, 64)) AS i) "
    "GROUP BY i), "
    "st AS (SELECT list(mn ORDER BY i) AS mn, "
    "list(mx ORDER BY i) AS mx FROM dims), "
    "dq AS (SELECT vec_id, list_transform(generate_series(1, 64), "
    "i -> st.mn[i] + (CASE WHEN st.mx[i] > st.mn[i] THEN "
    "least(greatest(floor((v[i] - st.mn[i]) * 255.0 / "
    "(st.mx[i] - st.mn[i]) + 0.5), 0), 255) ELSE 0 END) "
    "* (st.mx[i] - st.mn[i]) / 255.0) AS xq FROM c, st), "
    "q AS (SELECT vec_id AS query_id, v AS qe FROM c "
    "WHERE vec_id < 5), "
    "scored AS (SELECT q.query_id, dq.vec_id AS neighbor_id, "
    f"round(round({_cos('dq.xq', 'q.qe')}, 6), 4) AS score, "
    "row_number() OVER (PARTITION BY q.query_id ORDER BY "
    f"round({_cos('dq.xq', 'q.qe')}, 6) DESC, "
    "dq.vec_id ASC) AS rank "
    "FROM dq CROSS JOIN q) "
    "SELECT query_id, neighbor_id, score, rank FROM scored "
    "WHERE rank <= 5"
)
def _q_ann_int8_topk(spark, sf):
    """8-bit scalar-quantized ANN (asymmetric: quantized corpus x
    full-precision queries) — the 8x-bandwidth lever for 10^10-vector
    scans. Quantization, dequantization, and scoring are deterministic
    IEEE arithmetic, so DuckDB reproduces every score bit-for-bit."""
    e = _read(spark, sf, "embeddings")
    qs = _ann_queries(e)
    out = cosine_topk_int8(e, qs, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


@_oracle(
    "WITH gi AS (SELECT DISTINCT l_orderkey AS g, "
    "l_partkey AS i FROM lineitem), "
    "ok AS (SELECT g FROM gi GROUP BY g HAVING count(*) <= 6), "
    "gi2 AS (SELECT gi.g, gi.i FROM gi JOIN ok USING (g)) "
    "SELECT a.i AS item_a, b.i AS item_b, "
    "count(*)::BIGINT AS n_groups "
    "FROM gi2 a JOIN gi2 b ON a.g = b.g AND a.i < b.i "
    "GROUP BY 1, 2 HAVING count(*) >= 2"
)
def _q_cooccur(spark, sf):
    """Market-basket co-occurrence edges over (order, part) with the
    hot-group guard engaged (groups > 6 items dropped via partial-agg
    anti-join — mirrored in the oracle) and min_count=2 map-side-
    combine pruning."""
    li = _read(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return co_occurrence_edges(
        li, "l_orderkey", "l_partkey", min_count=2, max_group_size=6
    )


@_oracle(
    "SELECT o_orderpriority, o_orderstatus, "
    "count(*)::BIGINT AS n_orders, "
    "round(sum(o_totalprice), 2) AS total_price "
    "FROM orders "
    "GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"
)
def _q_rollup_sets(spark, sf):
    """Multi-level ROLLUP aggregation (orderpriority x orderstatus ->
    subtotals -> grand total) in one pass — Catalyst expands grouping
    sets into a single Expand + hash aggregate, no self-union of
    scans. Oracle = DuckDB GROUP BY ROLLUP."""
    o = _read(spark, sf, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            "o_orderpriority", "o_orderstatus", "n_orders", "total_price"
        )
    )


@_oracle(
    "SELECT event_type, "
    "round(quantile_cont(value, 0.5), 4) AS p50, "
    "round(quantile_cont(value, 0.95), 4) AS p95, "
    "count(*)::BIGINT AS n FROM events GROUP BY event_type"
)
def _q_group_quantiles(spark, sf):
    """Exact per-group quantiles (median + p95 of value per event
    type): percentile() hash aggregate, interpolation bit-identical to
    DuckDB quantile_cont (same invariant q_profile_table pins
    table-wide)."""
    ev = _read(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


@_oracle(
    f"WITH t AS (SELECT doc_id, {_TOKENS} AS w FROM documents), "
    "b AS (SELECT doc_id, w, len(w) AS n, "
    "(1 + ceil(greatest(len(w) - 32, 0) / 24.0))::INT AS k "
    "FROM t WHERE len(w) > 0) "
    "SELECT doc_id, i AS chunk_id, "
    "least(n - i * 24, 32)::INT AS n_tokens, "
    "array_to_string(list_slice(w, i * 24 + 1, i * 24 + 32), ' ') "
    "AS chunk_text "
    "FROM (SELECT doc_id, w, n, "
    "unnest(generate_series(0, k - 1)) AS i FROM b)"
)
def _q_chunk_docs(spark, sf):
    """Fixed-token-budget document chunking with overlap (max 32,
    overlap 8): pure-Catalyst narrow map + posexplode, zero shuffles —
    the pre-tokenization step of a training pipeline. Oracle re-derives
    every chunk boundary in DuckDB."""
    return chunk_documents(
        _read(spark, sf, "documents"), max_tokens=32, overlap=8
    )


@_oracle(
    "WITH raw AS (SELECT x.l_partkey AS u0, y.l_partkey AS v0 "
    "FROM lineitem x JOIN lineitem y "
    "ON x.l_orderkey = y.l_orderkey "
    "AND x.l_partkey < y.l_partkey), "
    "und AS (SELECT DISTINCT least(u0, v0) AS u, "
    "greatest(u0, v0) AS v FROM raw WHERE u0 <> v0), "
    "deg AS (SELECT x, count(*) AS d FROM "
    "(SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) "
    "GROUP BY x), "
    "o AS (SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v) "
    "THEN und.u ELSE und.v END AS a, "
    "CASE WHEN (du.d, und.u) < (dv.d, und.v) "
    "THEN und.v ELSE und.u END AS b "
    "FROM und JOIN deg du ON du.x = und.u "
    "JOIN deg dv ON dv.x = und.v), "
    "tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
    "FROM o e1 JOIN o e2 ON e2.a = e1.b "
    "WHERE EXISTS (SELECT 1 FROM o e3 "
    "WHERE e3.a = e1.a AND e3.b = e2.b)) "
    "SELECT vertex, count(*) AS n_triangles FROM "
    "(SELECT a AS vertex FROM tri UNION ALL "
    "SELECT b FROM tri UNION ALL SELECT c FROM tri) "
    "GROUP BY vertex"
)
def _q_triangles(spark, sf):
    """Per-vertex triangle counts over the part co-occurrence graph
    (parts sharing an order), via degree-ordered edge orientation —
    hub wedge fan-out bounded by oriented out-degree O(sqrt(m)).
    Oracle replicates orientation + wedge-close joins in DuckDB."""
    li = _read(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
    )
    return triangle_count(e)


def _funnel_sql(steps: list[str], window_s: int) -> str:
    """DuckDB mirror of the greedy earliest-next funnel for ANY number
    of steps (q_funnel_levels and q_funnel_array): chain CTEs c2..ck
    accumulate t_{i+1} = min step-(i+1) ts after t_i, then level = 1 +
    deepest consecutive within-window prefix."""
    k = len(steps)
    parts = [
        f"s{i + 1} AS (SELECT user_id, ts AS t{i + 1} FROM events "
        f"WHERE event_type = '{s}')"
        for i, s in enumerate(steps)
    ]
    prev = "s1"
    for i in range(2, k + 1):
        carried = ", ".join(f"t{j}" for j in range(1, i))
        parts.append(
            f"c{i} AS (SELECT {prev}.user_id, {carried}, min(t{i}) AS t{i} "
            f"FROM {prev} LEFT JOIN s{i} ON s{i}.user_id = {prev}.user_id "
            f"AND s{i}.t{i} > {prev}.t{i - 1} "
            f"GROUP BY {prev}.user_id, {carried})"
        )
        prev = f"c{i}"
    oks = ", ".join(
        f"(t{i} IS NOT NULL AND epoch(t{i}) - epoch(t1) <= {window_s})::INT "
        f"AS ok{i}"
        for i in range(2, k + 1)
    )
    lvl = "1"
    prefix = []
    for i in range(2, k + 1):
        prefix.append(f"ok{i}")
        lvl += " + " + " * ".join(prefix)
    return (
        "WITH "
        + ", ".join(parts)
        + f", lv AS (SELECT user_id, {lvl} AS lvl FROM "
        + f"(SELECT user_id, {oks} FROM {prev})) "
        + "SELECT user_id, max(lvl)::INT AS level FROM lv GROUP BY user_id"
    )


@_oracle(_funnel_sql(["view", "click", "purchase"], 3600))
def _q_funnel_levels(spark, sf):
    """view->click->purchase funnel within 1h: greedy earliest-next
    chain joins (exact by exchange argument), all keyed on user_id so
    one hash partitioning serves the whole chain. Oracle mirrors the
    joins in DuckDB (_funnel_sql)."""
    return funnel_levels(
        _read(spark, sf, "events"), ["view", "click", "purchase"], 3600.0
    )


#: weekly cohorts: f(u, cohort) = each user's first week, and the
#: (cohort, period) of an event joined to it
_COHORT_F = (
    "f AS (SELECT user_id AS u, min(date_trunc('week', ts)) AS cohort "
    "FROM events GROUP BY user_id)"
)
_COHORT_PERIOD = (
    "cohort::DATE AS cohort, floor(date_diff('day', cohort::DATE, "
    "date_trunc('week', ts)::DATE) / 7)::INT AS period"
)


@_oracle(
    f"WITH {_COHORT_F} SELECT {_COHORT_PERIOD}, "
    "count(DISTINCT user_id) AS n_users "
    "FROM events JOIN f ON f.u = events.user_id GROUP BY 1, 2"
)
def _q_cohort_retention(spark, sf):
    """Weekly cohort retention triangle: first-seen agg + join share
    one user_id partitioning; final (cohort, period) agg is tiny."""
    return cohort_retention(_read(spark, sf, "events"))


_FUNNEL_ARRAY_STEPS = ["signup", "view", "click", "error", "purchase"]
_FUNNEL_ARRAY_WINDOW = 7200


@_oracle(_funnel_sql(_FUNNEL_ARRAY_STEPS, _FUNNEL_ARRAY_WINDOW))
def _q_funnel_array(spark, sf):
    """5-step funnel via the ARRAY kernel (since r4: ONE shuffle
    collecting each user's time-sorted (ts, step) array + a one-pass
    pure-Catalyst aggregate state machine, O(events x steps)/user — the
    >5-step / power-user scale shape; pytest proves it row-identical to
    the chain-join kernel). Oracle = the greedy chain unrolled in
    DuckDB, generated by _funnel_sql for any step count."""
    return funnel_levels_array(
        _read(spark, sf, "events"),
        _FUNNEL_ARRAY_STEPS,
        float(_FUNNEL_ARRAY_WINDOW),
    )


def _kmv_sql(keys: str, src: str, k: int, out: str) -> str:
    """h -> r CTEs and the final SELECT of a KMV distinct-user estimate
    per ``keys`` over ``src`` (sketch.kmv_distinct, seed kmv-v1): exact
    count below k, else (k-1) / the k-th smallest unit hash."""
    return (
        f"h AS (SELECT DISTINCT {keys}, "
        "(('0x' || substr(md5('kmv-v1' || user_id::VARCHAR), 1, 13))"
        f"::UBIGINT + 1) / 16.0 ^ 13 AS h FROM {src}), "
        f"r AS (SELECT {keys}, h, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY h) AS rn FROM h) "
        f"SELECT {keys}, CASE WHEN count(*) < {k} THEN count(*) "
        f"ELSE round({k - 1}.0 / max(h))::BIGINT END AS {out} "
        f"FROM r WHERE rn <= {k} GROUP BY {keys}"
    )


@_oracle(
    f"WITH {_COHORT_F}, c AS (SELECT {_COHORT_PERIOD}, user_id "
    "FROM events JOIN f ON f.u = events.user_id), "
    + _kmv_sql("cohort, period", "c", 32, "n_users")
)
def _q_cohort_retention_approx(spark, sf):
    """Cohort retention with KMV-sketched n_users (k=32 keeps the
    estimator regime engaged on this fixture) — the 10^9-user swap for
    the exact countDistinct. md5-portable, so DuckDB recomputes the
    bit-identical sketch and estimate."""
    return cohort_retention(_read(spark, sf, "events"), approx_k=32)


@_oracle(
    f"WITH tok AS (SELECT {_TOKENS} AS t "
    "FROM documents), "
    "tot AS (SELECT sum(len(t))::DOUBLE AS n_uni, "
    "sum(greatest(len(t) - 1, 0))::DOUBLE AS n_big FROM tok), "
    "uni AS (SELECT w, count(*) AS c FROM "
    "(SELECT unnest(t) AS w FROM tok) GROUP BY w), "
    "p AS (SELECT unnest(list_transform("
    "generate_series(1, greatest(len(t) - 1, 0)), "
    "i -> {'w1': t[i], 'w2': t[i + 1]})) AS bg FROM tok), "
    "big AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n "
    "FROM p GROUP BY 1, 2 HAVING count(*) >= 5) "
    "SELECT big.w1 || ' ' || big.w2 AS bigram, big.w1, big.w2, n, "
    "round(ln((n / n_big) / ((u1.c / n_uni) * (u2.c / n_uni))), 6) "
    "AS pmi FROM big JOIN uni u1 ON u1.w = big.w1 "
    "JOIN uni u2 ON u2.w = big.w2 CROSS JOIN tot "
    "ORDER BY pmi DESC, bigram ASC LIMIT 40"
)
def _q_collocations(spark, sf):
    """Top-40 bigram collocations by PMI (min_count=5): partial-agg
    n-gram counts, broadcast totals, pure product/log scoring —
    deterministic, DuckDB recomputes identical PMI."""
    return collocations(_read(spark, sf, "documents"), k=40, min_count=5)


@_oracle(
    "WITH d AS (SELECT doc_id, "
    f"len({_TOKENS}) AS n_tokens "
    "FROM documents) "
    "SELECT doc_id, n_tokens FROM ("
    "SELECT doc_id, n_tokens, "
    "(-ln((('0x' || substr(md5('wsample-v1' || doc_id::VARCHAR), 1, 8))"
    "::UBIGINT::DOUBLE + 1.0) / 4294967296.0)) / n_tokens::DOUBLE AS k "
    "FROM d WHERE n_tokens IS NOT NULL AND n_tokens > 0) "
    "ORDER BY k ASC, doc_id ASC LIMIT 30"
)
def _q_weighted_sample(spark, sf):
    """Efraimidis-Spirakis weighted sample (k=30, weight = token
    count): deterministic md5 uniforms, global top-k is
    TakeOrderedAndProject; DuckDB recomputes the identical keys."""
    d = _read(spark, sf, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return weighted_sample(d, 30, "n_tokens")


@_oracle(
    "WITH t AS (SELECT "
    f"unnest({_TOKENS}) AS term "
    "FROM documents) "
    "SELECT term, count(*) AS count_lo, count(*) AS count_hi "
    "FROM t GROUP BY term "
    "ORDER BY count_lo DESC, term ASC LIMIT 64"
)
def _q_heavy_hitters(spark, sf):
    """Misra-Gries heavy hitters over corpus tokens: bounded state per
    partition (k counters), shuffle carries <= partitions x (k+1)
    rows regardless of distinct-term count. k=64 exceeds this corpus's
    vocabulary, so nothing is decremented and DuckDB can value-check
    the exact regime; the approximation bound is property-tested."""
    toks = _read(spark, sf, "documents").select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    return heavy_hitters(toks, k=64)


def _redact_pii_sql() -> str:
    """DuckDB mirror of q_redact_pii, built from the SAME pattern table
    (operators/textstats.PII_PATTERNS) so SQL and operator cannot
    drift. Chained CTEs replicate the in-order replace semantics."""
    sql = (
        "WITH r0 AS (SELECT doc_id, text || ' contact u' || doc_id::VARCHAR"
        " || '@example.com or 10.0.' || (doc_id % 256)::VARCHAR ||"
        " '.7 tel +1 555 0100' AS text FROM documents)"
    )
    prev = "r0"
    count_cols = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, 1):
        carried = ", ".join(count_cols)
        carried = carried + ", " if carried else ""
        sql += (
            f", r{i} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}, "
            f"regexp_replace(text, '{pat}', '{repl}', 'g') AS text "
            f"FROM {prev})"
        )
        prev = f"r{i}"
        count_cols.append(f"n_{name}")
    return sql + (
        f" SELECT doc_id, {', '.join(count_cols)}, text FROM {prev}"
    )


@_oracle(_redact_pii_sql())
def _q_redact_pii(spark, sf):
    """PII scrubbing (emails, IPv4s, phones) with per-kind hit counts —
    dialect-neutral regexes, all codegen'd, zero shuffle. Synthetic PII
    is appended deterministically so every rule fires on every row."""
    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1 555 0100"),
        ).alias("text"),
    )
    out = redact_pii(d)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "text",
    )


@_oracle(
    "SELECT l.event_id, l.user_id, l.ts, r.ts AS click_ts, "
    "r.value AS click_value "
    "FROM (SELECT event_id, user_id, ts, value FROM events "
    "WHERE event_type = 'purchase') l "
    "ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value "
    "FROM events WHERE event_type = 'click' "
    "GROUP BY user_id, ts) r "
    "ON l.user_id = r.user_id AND l.ts >= r.ts"
)
def _q_asof_join(spark, sf):
    """Point-in-time join via union+window (ONE shuffle on the key, no
    per-key cross product): each purchase gets the user's latest click
    at-or-before it. Oracle = DuckDB's native ASOF LEFT JOIN. The right
    side is deduped to max(value) per (user_id, ts) on BOTH sides
    first: with duplicate (key, ts) click rows both engines would pick
    a tie winner by their own (different) rules and parity would flake
    on any fixture with per-user timestamp ties."""
    ev = _read(spark, sf, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(left, right, on="user_id", ts="ts").select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("click_ts"),
        F.col("value_right").alias("click_value"),
    )


@_oracle(
    "SELECT i.event_id AS error_id, i.user_id, "
    "count(*) AS n_events, round(sum(p.value), 4) AS sum_value "
    "FROM (SELECT event_id, user_id, ts FROM events "
    "WHERE event_type = 'error') i "
    "JOIN events p ON p.user_id = i.user_id "
    "AND p.ts >= i.ts AND p.ts < i.ts + INTERVAL 10 MINUTE "
    "GROUP BY i.event_id, i.user_id"
)
def _q_range_join(spark, sf):
    """Binned interval join (ONE shuffle on (bucket, key), no nested
    loop): each error event opens a 10-minute window; count and sum the
    same user's events inside it. Oracle = DuckDB inequality join
    (planned as IEJoin)."""
    ev = _read(spark, sf, "events")
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"),
    )
    points = ev.select("event_id", "user_id", "ts", "value")
    return (
        range_join(points, intervals, on="user_id", bucket_s=600)
        .groupBy(
            F.col("error_id_i").alias("error_id"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@_oracle(
    " UNION ALL ".join(
        "SELECT '{g}' AS grain, date_trunc('{g}', ts) AS bucket, "
        "event_type, count(*)::BIGINT AS n_rows, "
        "round(sum(value), 4) AS sum_value, "
        "min(value) AS min_value, max(value) AS max_value "
        "FROM events GROUP BY 2, 3".format(g=g)
        for g in ("hour", "day", "week")
    )
)
def _q_rollup_hypertable(spark, sf):
    """Multi-granularity continuous-aggregate rollup: raw events are
    scanned/shuffled once at the hour grain; day and week re-aggregate
    the finer level (ReusedExchange in the AQE plan). Oracle = one
    date_trunc GROUP BY per grain over raw, UNION ALL — equality IS the
    re-aggregation invariant."""
    ev = _read(spark, sf, "events")
    out = rollup_hypertable(
        ev, keys=("event_type",), grains=("hour", "day", "week")
    )
    return out.select(
        "grain",
        "bucket",
        "event_type",
        "n_rows",
        F.round("sum_value", 4).alias("sum_value"),
        "min_value",
        "max_value",
    )


@_oracle("WITH " + _kmv_sql("event_type", "events", 64, "est_distinct"))
def _q_kmv_distinct(spark, sf):
    """KMV distinct-count sketch (k=64) of users per event type —
    deterministic md5 hashing makes the whole sketch engine-portable,
    so DuckDB recomputes the identical estimate."""
    ev = _read(spark, sf, "events")
    return kmv_distinct(ev, ("event_type",), "user_id", k=64)


@_oracle(
    " UNION ALL ".join(
        'SELECT \'{c}\' AS "column", count(*)::BIGINT AS n_rows, '
        "(count(*) - count({c}))::BIGINT AS n_nulls, "
        "min({c})::DOUBLE AS min, max({c})::DOUBLE AS max, "
        "round(avg({c}), 4) AS mean, "
        "round(stddev_samp({c}), 4) AS stddev, "
        "round(quantile_cont({c}::DOUBLE, 0.05), 4) AS q05, "
        "round(quantile_cont({c}::DOUBLE, 0.25), 4) AS q25, "
        "round(quantile_cont({c}::DOUBLE, 0.50), 4) AS q50, "
        "round(quantile_cont({c}::DOUBLE, 0.75), 4) AS q75, "
        "round(quantile_cont({c}::DOUBLE, 0.95), 4) AS q95, "
        "NULL::DOUBLE AS avg_len FROM events".format(c=c)
        for c in ("event_id", "user_id", "value")
    )
    + " UNION ALL "
    "SELECT 'event_type', count(*)::BIGINT, "
    "(count(*) - count(event_type))::BIGINT, NULL::DOUBLE, "
    "NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, "
    "NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, "
    "round(avg(length(event_type)), 4) FROM events"
)
def _q_profile_table(spark, sf):
    """One-pass per-column profiler over events (single scan, single
    aggregate — plan-audited in tests/test_profile.py). The oracle
    recomputes every deterministic metric per column; the HLL
    n_distinct_approx column is projected out (bounded in pytest
    instead). Quantiles are emitted as five scalar columns (q05..q95),
    not array<double> — the driver's pandas canonicalizer cannot hash
    array cells (the sole r2 driver FAIL)."""
    ev = _read(spark, sf, "events")
    out = profile_table(ev, ["event_id", "user_id", "value", "event_type"])
    qcols = [
        F.round(F.element_at("quantiles", i + 1), 4).alias(name)
        for i, name in enumerate(("q05", "q25", "q50", "q75", "q95"))
    ]
    return out.select(
        "column",
        "n_rows",
        "n_nulls",
        "min",
        "max",
        F.round("mean", 4).alias("mean"),
        F.round("stddev", 4).alias("stddev"),
        *qcols,
        F.round("avg_len", 4).alias("avg_len"),
    )


@_oracle(
    "SELECT user_id, event_id, ts, event_type, value FROM ("
    "SELECT user_id, event_id, ts, event_type, value, "
    "row_number() OVER (PARTITION BY user_id "
    "ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
    "WHERE rn = 1"
)
def _q_cdc_latest(spark, sf):
    """Latest-version-per-key changelog compaction via max_by hash
    aggregate (map-side combine; no window sort — plan-audited in
    tests/test_cdc.py). events as the changelog, user_id as the key,
    event_id as the deterministic tie-break."""
    ev = _read(spark, sf, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_snapshot(ev, "user_id", "ts", "event_id")


@_oracle(
    "SELECT user_id, event_id, ts AS effective_from, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "AS effective_to, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "IS NULL AS is_current FROM events"
)
def _q_scd2_history(spark, sf):
    """SCD2 validity intervals: every event version gets
    [effective_from, effective_to) via lead(ts) per user."""
    ev = _read(spark, sf, "events").select("user_id", "event_id", "ts")
    return scd2_history(ev, "user_id", "ts", "event_id").select(
        "user_id", "event_id", "effective_from", "effective_to", "is_current"
    )


@_oracle(
    "SELECT doc_id, (row_number() OVER (ORDER BY doc_id) - 1)"
    "::BIGINT AS row_id FROM documents"
)
def _q_stable_row_ids(spark, sf):
    """Consecutive global ids without a single-partition sort of raw
    rows (range partition + per-partition numbering + tiny offset agg;
    plan-audited in tests/test_ids.py). Oracle = the naive global
    row_number the operator replaces at scale."""
    d = _read(spark, sf, "documents").select("doc_id")
    return stable_row_ids(d, "doc_id")


@_oracle(
    "SELECT doc_id, source FROM ("
    "SELECT doc_id, source, row_number() OVER ("
    "PARTITION BY source "
    "ORDER BY md5('strat-v1' || doc_id::VARCHAR), doc_id) AS rn "
    "FROM documents) WHERE rn <= 20"
)
def _q_stratified_sample(spark, sf):
    """Exactly 20 docs per source stratum by md5 hash order — a
    deterministic, engine-portable uniform sample for fixed-size eval
    sets."""
    d = _read(spark, sf, "documents")
    return stratified_sample_exact(d, 20, key_col="source").select(
        "doc_id", "source"
    )


@_oracle(
    f"WITH sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM documents) "
    "SELECT a.doc_id, round(len(list_intersect(a.s, b.s)) * 1.0 / "
    "greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6)::DOUBLE "
    "AS ngram_jaccard FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"
)
def _q_ngram_jaccard(spark, sf):
    d = _read(spark, sf, "documents").select("doc_id", "text")
    a = d.select("doc_id", shingles("text", 3).alias("sh_a"))
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), shingles("text", 3).alias("sh_b")
    )
    return a.join(b, "doc_id").select(
        "doc_id",
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
            6,
        ).alias("ngram_jaccard"),
    )


@_oracle(
    f"SELECT doc_id, len({_TOKENS})::BIGINT AS n_words, "
    f"list_sum(list_transform({_TOKENS}, "
    "w -> greatest(ceil(length(w) / 6.0), 1)))::BIGINT AS n_tokens FROM documents"
)
def _q_token_count(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        word_count(F.col("text")).cast("long").alias("n_words"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )


@_oracle(
    f"WITH t AS (SELECT doc_id, {_TOKENS} AS ws FROM documents), "
    f"m AS (SELECT doc_id, {_QUALITY_STATS} FROM t) "
    "SELECT doc_id, round(sw * 1.0 / greatest(n, 1), 6)::DOUBLE AS stopword_ratio, "
    "round(chars * 1.0 / greatest(n, 1), 6)::DOUBLE AS mean_word_len, "
    f"{_QUALITY}::DOUBLE AS quality FROM m"
)
def _q_quality(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        F.round(mean_word_length(F.col("text")), 6).alias("mean_word_len"),
        quality_score(F.col("text")).alias("quality"),
    )


@_oracle(
    f"WITH t AS (SELECT doc_id, {_TOKENS} AS ws FROM documents), "
    f"s AS (SELECT doc_id, {_LANG_COUNTS} FROM t) "
    f"SELECT doc_id, {_LANG_CASE} AS lang_pred FROM s"
)
def _q_lang_id(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


@_oracle(f"SELECT doc_id, {_FINGERPRINT} AS fingerprint FROM documents")
def _q_fingerprint(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


@_oracle(
    "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe "
    "FROM embeddings WHERE vec_id < 5), "
    "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
    f"round({_cos('e.embedding::DOUBLE[]', 'q.qe')}, 4)::DOUBLE AS score, "
    "row_number() OVER (PARTITION BY q.query_id ORDER BY "
    f"{_cos('e.embedding::DOUBLE[]', 'q.qe')} DESC, e.vec_id ASC) AS rank "
    "FROM embeddings e CROSS JOIN q) "
    "SELECT query_id, neighbor_id, score, rank FROM scored WHERE rank <= 5"
)
def _q_ann_cosine_topk(spark, sf):
    e = _read(spark, sf, "embeddings")
    qs = _ann_queries(e)
    out = cosine_topk(e, qs, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


@_oracle(
    "WITH edges0 AS (SELECT 'n:' || n_name AS src, 'r:' || r_name AS dst "
    "FROM nation JOIN region ON n_regionkey = r_regionkey), "
    + _cc_reach_sql("edges0", "src", "dst")
    + " SELECT node, comp AS component FROM reach"
)
def _q_alias_cc_j3(spark, sf):
    n = _read(spark, sf, "nation")
    r = _read(spark, sf, "region")
    edges = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .select(
            F.concat(F.lit("n:"), F.col("n_name")).alias("src"),
            F.concat(F.lit("r:"), F.col("r_name")).alias("dst"),
        )
    )
    return connected_components(edges)


@_oracle(
    "SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], chr(10))"
    " AS head_text FROM documents"
)
def _q_reassemble_f3(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat_ws("\n", F.slice(F.split("text", " "), 1, 5)).alias("head_text"),
    )


@_oracle(
    "SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL "
    "AND lang != 'None' AND n_chars > 0"
)
def _q_none_filter_f5(spark, sf):
    d = _read(spark, sf, "documents")
    return d.filter(
        F.col("lang").isNotNull() & (F.col("lang") != "None") & (F.col("n_chars") > 0)
    ).select("doc_id", "lang")


@_oracle(
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) "
    "SELECT doc_id, ws[4] AS name, array_to_string(list_sort("
    "list_distinct([ws[2], ws[3], ws[1]])), ',') AS aliases "
    "FROM w WHERE len(ws) >= 4"
)
def _q_change_name_p5(spark, sf):
    # P5 changeName: old name joins the sorted-distinct alias set
    d = _read(spark, sf, "documents")
    w = F.split("text", " ")
    return d.filter(F.size(w) >= 4).select(
        "doc_id",
        w[3].alias("name"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.array_distinct(F.array_union(F.array(w[1], w[2]), F.array(w[0])))
            ),
        ).alias("aliases"),
    )


@_oracle(
    "SELECT o_custkey, array_to_string(list_sort(list_distinct("
    "list((o_orderkey % 97)::BIGINT))), ',') AS occ_lines "
    "FROM orders GROUP BY o_custkey"
)
def _q_occurrence_lines_a2(spark, sf):
    # A2 getOccurrenceLines: sorted distinct ints per group, canonical form
    o = _read(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_set(F.pmod("o_orderkey", F.lit(97)).cast("long"))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("occ_lines")
    )


@_oracle(
    "SELECT doc_id, array_to_string(list_sort(list_distinct("
    "string_split(lower(text), ' '))), ',') AS vocab FROM documents"
)
def _q_lowercase_f7(spark, sf):
    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(
            ",", F.array_sort(F.array_distinct(F.split(F.lower("text"), " ")))
        ).alias("vocab"),
    )


@_oracle(
    "WITH wo AS (SELECT DISTINCT o_custkey AS k FROM orders), "
    "pos AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0) "
    "SELECT (SELECT count(*) FROM (SELECT k FROM wo INTERSECT SELECT k FROM pos))::BIGINT AS n_both, "
    "(SELECT count(*) FROM pos WHERE k NOT IN (SELECT k FROM wo))::BIGINT AS n_only_positive"
)
def _q_set_ops(spark, sf):
    """Set intersection/difference as ONE join+aggregate job (customer
    keys are unique, orders deduped on the build side) — no driver-side
    counts, no createDataFrame."""
    c = _read(spark, sf, "customer")
    o = _read(spark, sf, "orders")
    with_orders = o.select(F.col("o_custkey").alias("k")).dropDuplicates()
    positive = c.filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("k")
    )
    j = positive.join(with_orders.withColumn("w", F.lit(1)), "k", "left")
    return j.agg(
        F.sum(F.when(F.col("w").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.sum(F.when(F.col("w").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_only_positive"),
    )


# Flagship oracle: over this corpus (31-word lowercase space-separated
# vocabulary; none of the matcher's guard/anaphora trigger words exist
# and no token-window can collide with a gazetteer charset), the full
# rule cascade provably reduces to R_EXACT token membership per 8-word
# sentence chunk — so the KG output is exactly SQL-expressible. The
# reduction's premises are pinned by tests/test_flagship_oracle.py,
# which fails if the corpus or gazetteer ever gains a guard word.
_GAZ_LIST = ",".join(f"'{g}'" for g in _FLAGSHIP_GAZETTEER)
_FLAG_OCC = (
    "WITH ws AS (SELECT 'doc' || doc_id AS doc_id, "
    "string_split_regex(trim(text), '\\s+') AS w FROM documents), "
    "tok AS (SELECT doc_id, w[i] AS name, ((i - 1) // 8 + 1) AS sent_no "
    "FROM ws, unnest(generate_series(1, len(w))) AS t(i)), "
    f"occ AS (SELECT DISTINCT doc_id, name, sent_no FROM tok "
    f"WHERE name IN ({_GAZ_LIST}))"
)


@_oracle(
    _FLAG_OCC + ", ent AS (SELECT DISTINCT doc_id, name FROM occ) "
    "SELECT doc_id || '#' || name AS subj, 'instanceOf' AS pred, "
    "'COMPONENT' AS obj FROM ent "
    "UNION ALL SELECT doc_id || '#' || name, 'hasName', name FROM ent "
    "UNION ALL SELECT doc_id || '#' || name, 'occursIn', "
    "doc_id || '#s' || sent_no || '#DIRECT' FROM occ"
)
def _q_naer_triples(spark, sf):
    docs = _flat_to_spans_docs(_read(spark, sf, "documents"))
    return RecognizerPipeline(_FLAGSHIP_GAZETTEER, validate=False).triples(docs)


def _entity_rows(e: DataFrame) -> DataFrame:
    """Entities as hashable scalar rows: aliases joined, occurrences
    counted (the driver's canonicalizer cannot hash list cells)."""
    return e.select(
        "doc_id",
        "name",
        "entity_type",
        F.concat_ws(",", "alternative_names").alias("aliases"),
        F.size("occurrences").cast("long").alias("n_occurrences"),
    )


@_oracle(
    _FLAG_OCC + " SELECT doc_id, name, 'COMPONENT' AS entity_type, "
    "'' AS aliases, count(*)::BIGINT AS n_occurrences "
    "FROM occ GROUP BY doc_id, name"
)
def _q_naer_entities(spark, sf):
    docs = _flat_to_spans_docs(_read(spark, sf, "documents"))
    e = RecognizerPipeline(_FLAGSHIP_GAZETTEER, validate=False).entities(docs)
    return _entity_rows(e)


@_oracle(
    # replicate hist_sketch bins + hist_quantile_expr's
    # interpolation: rank = ceil(q*n); first bin whose cumsum
    # reaches it; estimate = (bin + inbin/cnt) * width
    "WITH v AS (SELECT l_returnflag AS f, "
    "least(24, greatest(0, floor(l_quantity::DOUBLE / 50.0 * 25)::INT))"
    " AS bin FROM lineitem WHERE l_quantity IS NOT NULL), "
    "c AS (SELECT f, bin, count(*)::BIGINT AS cnt FROM v GROUP BY f, bin), "
    "grid AS (SELECT g.f, t.i AS bin FROM (SELECT DISTINCT f FROM c) g, "
    "range(25) t(i)), "
    "fullc AS (SELECT grid.f, grid.bin, coalesce(c.cnt, 0) AS cnt "
    "FROM grid LEFT JOIN c ON c.f = grid.f AND c.bin = grid.bin), "
    "cum AS (SELECT f, bin, cnt, "
    "sum(cnt) OVER (PARTITION BY f ORDER BY bin) AS cum, "
    "sum(cnt) OVER (PARTITION BY f) AS n FROM fullc), "
    "est AS (SELECT f, n, "
    "min(CASE WHEN cum >= ceil(0.5 * n::DOUBLE)::BIGINT THEN bin END) "
    "AS b50, "
    "min(CASE WHEN cum >= ceil(0.95 * n::DOUBLE)::BIGINT THEN bin END) "
    "AS b95 FROM cum GROUP BY f, n) "
    "SELECT est.f AS l_returnflag, est.n::BIGINT AS n, "
    "(c50.bin::DOUBLE + (ceil(0.5 * est.n::DOUBLE) - (c50.cum - c50.cnt))"
    "::DOUBLE / greatest(c50.cnt, 1)::DOUBLE) * 2.0 AS p50_est, "
    "(c95.bin::DOUBLE + (ceil(0.95 * est.n::DOUBLE) - (c95.cum - c95.cnt))"
    "::DOUBLE / greatest(c95.cnt, 1)::DOUBLE) * 2.0 AS p95_est "
    "FROM est "
    "JOIN cum c50 ON c50.f = est.f AND c50.bin = est.b50 "
    "JOIN cum c95 ON c95.f = est.f AND c95.bin = est.b95"
)
def _q_hist_quantiles(spark, sf):
    """Mergeable equi-width histogram sketch + interpolated quantiles
    (the rank-statistics member of the mergeable-summaries family next
    to KMV/HLL/Misra-Gries): ONE partial+final aggregate builds per-
    group bin counts; p50/p95 are estimated from the counts with error
    <= one bin width (property-tested; merge-of-parts == whole is exact
    integer equality). Oracle recomputes bins and the interpolation via
    a cumulative-sum window in DuckDB — identical double arithmetic."""
    li = _read(spark, sf, "lineitem")
    sk = hist_sketch(
        li, ("l_returnflag",), "l_quantity", lo=0.0, hi=50.0, bins=25
    )
    return sk.select(
        "l_returnflag",
        "n",
        hist_quantile_expr(F.col("hist"), 0.5, 0.0, 50.0, 25).alias("p50_est"),
        hist_quantile_expr(F.col("hist"), 0.95, 0.0, 50.0, 25).alias("p95_est"),
    )


@_oracle(
    # per-doc dictionary = 3-name subset of the flagship
    # gazetteer keyed by doc index; same provable reduction,
    # name additionally filtered to the doc's own subset
    f"WITH g AS (SELECT [{_GAZ_LIST}] AS gl), "
    "ws AS (SELECT doc_id AS id, 'doc' || doc_id AS doc_id, "
    "string_split_regex(trim(text), '\\s+') AS w FROM documents), "
    "tok AS (SELECT id, doc_id, w[i] AS name, "
    "((i - 1) // 8 + 1) AS sent_no "
    "FROM ws, unnest(generate_series(1, len(w))) AS t(i)), "
    "occ AS (SELECT DISTINCT doc_id, name, sent_no FROM tok, g "
    "WHERE name IN (g.gl[(id % 10)::INT + 1], "
    "g.gl[((id + 3) % 10)::INT + 1], "
    "g.gl[((id + 7) % 10)::INT + 1])) "
    "SELECT doc_id, name, 'COMPONENT' AS entity_type, "
    "'' AS aliases, count(*)::BIGINT AS n_occurrences "
    "FROM occ GROUP BY doc_id, name"
)
def _q_naer_entities_docgaz(spark, sf):
    """Flagship entity extraction with PER-DOCUMENT dictionaries via
    the JOIN transport (detect_entities_df_joined — the r4 answer to
    the r3 verdict's one 100×-design gap: task-closure dictionaries
    are O(all dictionaries) per task binary). Doc i's dictionary is
    the 3-name subset {i%10, (i+3)%10, (i+7)%10} of the flagship
    gazetteer, built declaratively and joined doc_id-locally into the
    Arrow kernel. Oracle: the same provable R_EXACT-token-membership
    reduction as q_naer_entities (premises pinned in
    tests/test_flagship_oracle.py hold a fortiori for subsets —
    removing candidates can only remove matches), restricted per doc."""
    flat = _read(spark, sf, "documents")
    docs = _flat_to_spans_docs(flat)
    names = F.array(*[F.lit(n) for n in _FLAGSHIP_GAZETTEER])
    i = F.col("doc_id").cast("long")
    pick = F.array(
        *[
            F.element_at(names, ((i + off) % 10 + 1).cast("int"))
            for off in (0, 3, 7)  # distinct mod 10 for every i
        ]
    )
    gaz_df = flat.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        F.explode(pick).alias("name"),
    )
    e = detect_entities_df_joined(docs, gaz_df, broadcast=True)
    return _entity_rows(e)


@_oracle(
    # typed per-doc dictionary: same 3-index pick as the docgaz
    # oracle, but each pick carries the reference enum type
    # (model/NamedEntityType.java:8) as a pure function of the
    # picked gazetteer index (idx % 3) — the same formula the
    # Spark query evaluates
    f"WITH g AS (SELECT [{_GAZ_LIST}] AS gl), "
    "ty AS (SELECT ['COMPONENT', 'INTERFACE', 'CLASS'] AS tl), "
    "ws AS (SELECT doc_id AS id, 'doc' || doc_id AS doc_id, "
    "string_split_regex(trim(text), '\\s+') AS w FROM documents), "
    "picks AS (SELECT ws.id, ws.doc_id, "
    "g.gl[((ws.id + o.off) % 10)::INT + 1] AS name, "
    "ty.tl[(((ws.id + o.off) % 10) % 3)::INT + 1] AS entity_type "
    "FROM ws, (VALUES (0), (3), (7)) o(off), g, ty), "
    "tok AS (SELECT id, doc_id, w[i] AS name, "
    "((i - 1) // 8 + 1) AS sent_no "
    "FROM ws, unnest(generate_series(1, len(w))) AS t(i)), "
    "occ AS (SELECT DISTINCT t.doc_id, p.name, p.entity_type, "
    "t.sent_no FROM tok t JOIN picks p "
    "ON p.doc_id = t.doc_id AND p.name = t.name) "
    "SELECT doc_id, name, entity_type, "
    "'' AS aliases, count(*)::BIGINT AS n_occurrences "
    "FROM occ GROUP BY doc_id, name, entity_type"
)
def _q_naer_entities_typed(spark, sf):
    """TYPED flagship entity extraction (VERDICT r4 #7): a typed
    per-doc gazetteer through detect_entities_df_joined, emitting the
    reference enum (model/NamedEntityType.java:8 — COMPONENT /
    INTERFACE / CLASS). Same pick construction as
    q_naer_entities_docgaz; each gazetteer name's type is a pure
    function of its gazetteer index (idx % 3), so the doc-side picks
    carry deterministic, collision-free types. Oracle: the same
    R_EXACT-token-membership reduction, with the type recomputed from
    the picked index in SQL."""
    flat = _read(spark, sf, "documents")
    docs = _flat_to_spans_docs(flat)
    names = F.array(*[F.lit(n) for n in _FLAGSHIP_GAZETTEER])
    types = F.array(
        F.lit("COMPONENT"), F.lit("INTERFACE"), F.lit("CLASS")
    )
    i = F.col("doc_id").cast("long")
    pick = F.array(
        *[
            F.struct(
                F.element_at(
                    names, ((i + off) % 10 + 1).cast("int")
                ).alias("name"),
                F.element_at(
                    types, (((i + off) % 10) % 3 + 1).cast("int")
                ).alias("entity_type"),
            )
            for off in (0, 3, 7)  # distinct mod 10 for every i
        ]
    )
    gaz_df = flat.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        F.explode(pick).alias("p"),
    ).select("doc_id", "p.name", "p.entity_type")
    e = detect_entities_df_joined(docs, gaz_df, broadcast=True)
    return _entity_rows(e)


#: deterministic md5 hyperplane component u(p, d), seed 42, in [-1, 1]
_PLANE_U = (
    "((('0x' || substr(md5('42:' || p || ':' || (d - 1)), 1, 8))::UBIGINT"
    " / 2147483648.0) - 1.0)"
)
_LSH_BUCKET = (
    "array_to_string(list_transform(generate_series(0, 5), p -> "
    "CASE WHEN list_sum(list_transform(generate_series(1, len(v)), d -> "
    f"v[d] * {_PLANE_U})) >= 0 THEN '1' ELSE '0' END), '')"
)


@_oracle(
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"b AS (SELECT vec_id, v, {_LSH_BUCKET} AS bucket FROM e), "
    "q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5), "
    "scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, "
    f"round({_cos('c.v', 'q.qv')}, 6)::DOUBLE AS score "
    "FROM b c JOIN q ON c.bucket = q.bucket), "
    "ranked AS (SELECT query_id, neighbor_id, score, row_number() OVER ("
    "PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank "
    "FROM scored) "
    "SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5"
)
def _q_ann_lsh_topk(spark, sf):
    e = _read(spark, sf, "embeddings")
    qs = _ann_queries(e)
    return cosine_topk_lsh(e, qs, k=5, n_planes=6)


@_oracle(
    # centroid cid = row_number-1 over vec_id
    # (mirrors the operator's enumerate over the first-16 rows);
    # tie-breaks: assignment/probe prefer HIGHER cid on equal
    # sim (Spark array_max struct ordering), rank prefers lower
    # neighbor_id on equal rounded score
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, "
    "v AS cv FROM e ORDER BY vec_id LIMIT 16), "
    f"asg0 AS (SELECT e.vec_id, e.v, c.cid, {_cos('e.v', 'c.cv')} AS s "
    "FROM e CROSS JOIN cents c), "
    "asg AS (SELECT vec_id, v, cid FROM (SELECT *, row_number() OVER "
    "(PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn FROM asg0) "
    "WHERE rn = 1), "
    "q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5), "
    "qp AS (SELECT query_id, qv, cid FROM (SELECT q0.query_id, q0.qv, "
    "c.cid, row_number() OVER (PARTITION BY q0.query_id ORDER BY "
    f"{_cos('q0.qv', 'c.cv')} DESC, c.cid DESC) AS rn "
    "FROM q0 CROSS JOIN cents c) WHERE rn <= 4), "
    "cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id, "
    f"round({_cos('a.v', 'qp.qv')}, 6)::DOUBLE AS score "
    "FROM qp JOIN asg a ON a.cid = qp.cid) "
    "SELECT query_id, neighbor_id, score, rank FROM (SELECT *, "
    "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, "
    "neighbor_id ASC) AS rank FROM cand) WHERE rank <= 5"
)
def _q_ann_ivf_topk(spark, sf):
    """IVF ANN: zero-shuffle centroid assignment (literal centroids from
    the first 16 corpus ids — offline-k-means stand-in), queries probe
    their 4 nearest inverted lists, exact cosine inside probed lists."""
    e = _read(spark, sf, "embeddings")
    qs = _ann_queries(e)
    return cosine_topk_ivf(e, qs, k=5, n_centroids=16, nprobe=4)


#: 64-bit SimHash bit-string over distinct 2-word shingles (Spark
#: shingles() semantics): string position p = bit 63-p of the uint64
#: from the first 16 md5 hex chars (MSB-first nibbles)
_SHINGLES2 = (
    "list_distinct(list_transform(generate_series(1, greatest(len({w}) - 1, 0)), "
    "i -> array_to_string({w}[i:i+1], ' ')))"
).format(w=_WORDS)
_SIMHASH = (
    f"(WITH s AS (SELECT list_transform({_SHINGLES2}, "
    "x -> ('0x' || substr(md5(x), 1, 16))::UBIGINT) AS hs) "
    "SELECT array_to_string(list_transform(generate_series(0, 63), p -> "
    "CASE WHEN 2 * len(list_filter(hs, h -> ((h >> (63 - p)) & 1) = 1)) "
    ">= len(hs) THEN '1' ELSE '0' END), '') FROM s)"
)


@_oracle(
    f"SELECT doc_id, {_SIMHASH} AS simhash_bits FROM documents"
)
def _q_simhash(spark, sf):
    """64-bit SimHash signatures via the vectorized numpy kernel
    (bit-identical to the Catalyst simhash64 expression — SimHash is
    pure integer math — and ~200x faster; identity asserted in
    tests/test_dedup_similarity.py). Same DuckDB oracle as before."""
    d = ensure_parallelism(_read(spark, sf, "documents"))
    return simhash_signatures(d, shingle_n=2).withColumnRenamed(
        "sig", "simhash_bits"
    )


@_oracle(
    # docs with fewer than shingle_n=2 tokens are never banded
    f"WITH sig AS (SELECT doc_id, {_SIMHASH} AS sig FROM documents "
    f"WHERE len({_TOKENS}) >= 2), "
    "banded AS (SELECT doc_id, sig, b AS block_idx, "
    "substr(sig, b * 4 + 1, 4) AS block "
    "FROM sig, unnest(generate_series(0, 15)) AS t(b)), "
    "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "a.sig AS sa, b.sig AS sb FROM banded a JOIN banded b "
    "ON a.block_idx = b.block_idx AND a.block = b.block "
    "AND a.doc_id < b.doc_id), "
    "h AS (SELECT doc_a, doc_b, len(list_filter(generate_series(1, 64), "
    "i -> substr(sa, i, 1) != substr(sb, i, 1)))::INT AS hamming FROM pairs) "
    "SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 15"
)
def _q_simhash_pairs(spark, sf):
    """Hamming-<=k near-dup candidate pairs via pigeonhole block
    bucketing over 64-bit SimHash (operators/dedup.py simhash_pairs):
    block equi-join, never all-pairs."""
    return simhash_pairs(
        _read(spark, sf, "documents"), max_hamming=15, shingle_n=2
    )


@_oracle(
    "WITH p AS (SELECT doc_id, 'noise [' || substr(text, 1, 40) || '] tail'"
    " AS payload FROM documents) "
    "SELECT doc_id, regexp_extract(payload, '\\[(.*)\\]', 1) AS window FROM p"
)
def _q_answer_window_f4(spark, sf):
    """F4 answer windowing: substring between first '[' and last ']'
    (JsonOutputPrompt.java:79-86), exercised over synthetic payloads."""
    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("noise ["), F.substring("text", 1, 40), F.lit("] tail")
        ).alias("payload"),
    )
    return d.select(
        "doc_id", F.regexp_extract("payload", r"\[(.*)\]", 1).alias("window")
    )


@_oracle(
    "WITH p AS (SELECT doc_id, '[{\"name\":\"' || "
    "regexp_replace(string_split_regex(text, '\\s+')[1], '[\"\\\\]', '', 'g')"
    " || '\",\"type\":\"COMPONENT\"}]' AS payload FROM documents) "
    "SELECT doc_id, "
    "json_extract_string(payload, '$[0].name') AS name, "
    "json_extract_string(payload, '$[0].type') AS entity_type FROM p "
    "WHERE json_extract_string(payload, '$[0].type') IN "
    "('COMPONENT','INTERFACE','CLASS')"
)
def _q_json_parse_p1(spark, sf):
    """P1 JSON entity-array parse (NamedEntityParser.java:39-67): build a
    real JSON payload, from_json it back, strict-type filter (F5)."""
    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit('[{"name":"'),
            F.regexp_replace(F.split("text", r"\s+")[0], r'["\\]', ""),
            F.lit('","type":"COMPONENT"}]'),
        ).alias("payload"),
    )
    schema = ArrayType(
        StructType(
            [StructField("name", StringType()), StructField("type", StringType())]
        )
    )
    parsed = d.select(
        "doc_id", F.explode(F.from_json("payload", schema)).alias("e")
    )
    return parsed.select(
        "doc_id",
        F.col("e.name").alias("name"),
        F.col("e.type").alias("entity_type"),
    ).filter(F.col("e.type").isin("COMPONENT", "INTERFACE", "CLASS"))


def _structured_answer(w, head):
    """A structured-text answer blob in the reference's own format
    (NamedEntityParser P2): two occurrence rows ``name, 'sentence'`` and
    two alternative-name rows ``name: a, b`` / ``name: None``, built from
    the first words ``w`` and the sentence ``head``."""
    return F.concat(
        F.lit("COMPONENT entities recognized:\n"),
        w[0], F.lit(", '"), head, F.lit("'\n"),
        w[1], F.lit(", '"), head, F.lit("'\n"),
        F.lit("Alternative names:\n"),
        w[0], F.lit(": "), w[1], F.lit(", "), w[2], F.lit("\n"),
        w[1], F.lit(": None"),
    )


@_oracle(
    "WITH base AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w "
    "FROM documents), "
    "p AS (SELECT 'doc' || doc_id AS doc_id, (doc_id % 7 = 0) AS is_err, "
    "w[1] AS w0, w[2] AS w1, w[3] AS w2, "
    "array_to_string(w[1:5], ' ') AS head FROM base) "
    "SELECT doc_id, NULL AS name, NULL AS entity_type, '' AS aliases, "
    "'' AS occs, "
    "'invalid occurrence format: ''broken line no quotes''' AS error "
    "FROM p WHERE is_err "
    "UNION ALL SELECT doc_id, w0, 'COMPONENT', "
    "array_to_string(list_sort(list_distinct([w1, w2])), ','), "
    "CASE WHEN w0 = w1 THEN head || '|' || head ELSE head END, NULL "
    "FROM p WHERE NOT is_err "
    "UNION ALL SELECT doc_id, w1, 'COMPONENT', '', head, NULL "
    "FROM p WHERE NOT is_err AND w0 != w1"
)
def _q_structured_parse_p2(spark, sf):
    """P2 structured-text state-machine parse (NamedEntityParser.java:
    78-186) over synthetic answer blobs in the reference's own format
    (occurrence rows ``name, 'sentence'``, alt rows ``name: a, b`` /
    ``name: None``). Every 7th doc carries a malformed occurrence line,
    exercising the quarantine path (L3). The blob shape is fixed, so the
    state machine's output is SQL-derivable: value-oracled since r2."""
    d = _read(spark, sf, "documents")
    w = F.split(F.trim("text"), r"\s+")
    head = F.concat_ws(" ", F.slice(w, 1, 5))
    good = _structured_answer(w, head)
    bad = F.lit("COMPONENT entities recognized:\nbroken line no quotes")
    answers = d.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.when(F.pmod("doc_id", F.lit(7)) == 0, bad).otherwise(good).alias("answer"),
    )
    out = parse_structured_answers(answers)
    return out.select(
        "doc_id",
        "name",
        "entity_type",
        F.concat_ws(",", "alternative_names").alias("aliases"),
        F.concat_ws("|", "occ_texts").alias("occs"),
        "error",
    )


# exact repair-prompt template (NamedEntityRecognizer.java:65-67);
# importing the constants keeps SQL and operator from drifting. The
# template contains no single quotes, so it embeds verbatim.
_REPAIR_PREFIX = (
    "The following output is invalid. Reformat it so it precisely "
    "adheres to the following output format:\n"
    + EXPECTED_JSON_FORMAT
    + "\n\nInvalid output to reformat:\n"
)
_REPAIR_SUFFIX = (
    "\nThis error occurred when trying to parse it:\n" + ERR_NO_JSON_ARRAY
)
_GARBAGE_PROSE = "this is free prose with no recognizable output structure"


@_oracle(
    "WITH base AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w "
    "FROM documents), "
    "p AS (SELECT 'doc' || doc_id AS doc_id, doc_id % 3 AS m, "
    "w[1] AS w0, w[2] AS w1, w[3] AS w2, "
    "array_to_string(w[1:5], ' ') AS head FROM base), "
    "ans AS (SELECT *, CASE WHEN m = 1 THEN "
    "'COMPONENT entities recognized:' || chr(10) || "
    "w0 || ', ''' || head || '''' || chr(10) || "
    "w1 || ', ''' || head || '''' || chr(10) || "
    "'Alternative names:' || chr(10) || "
    "w0 || ': ' || w1 || ', ' || w2 || chr(10) || "
    "w1 || ': None' "
    f"WHEN m = 2 THEN '{_GARBAGE_PROSE}' END AS answer FROM p), "
    "rp AS (SELECT *, $rp$" + _REPAIR_PREFIX + "$rp$ || answer || "
    "$rs$" + _REPAIR_SUFFIX + "$rs$ AS repair_prompt FROM ans) "
    "SELECT doc_id, w0 AS name, 'COMPONENT' AS entity_type, "
    "w1 AS aliases, head AS occs, 'strict' AS stage, "
    "NULL AS error, NULL AS repair_prompt FROM p WHERE m = 0 "
    "UNION ALL SELECT doc_id, w0, 'COMPONENT', "
    "array_to_string(list_sort(list_distinct([w1, w2])), ','), "
    "CASE WHEN w0 = w1 THEN head || '|' || head ELSE head END, "
    "'repaired', NULL, repair_prompt FROM rp WHERE m = 1 "
    "UNION ALL SELECT doc_id, w1, 'COMPONENT', '', head, "
    "'repaired', NULL, repair_prompt FROM rp WHERE m = 1 AND w0 != w1 "
    "UNION ALL SELECT doc_id, NULL, NULL, '', '', 'quarantined', "
    "'entity type not specified before: ''" + _GARBAGE_PROSE + "''', "
    "repair_prompt FROM rp WHERE m = 2"
)
def _q_repair_parse(spark, sf):
    """L2/L3 two-part repair flow (recognizer/NamedEntityRecognizer.java:
    57-81 + TwoPartPrompt.java:134-144): strict JSON parse first; failures
    get the reference's repair prompt (expected format + invalid output +
    parse error) and a deterministic repair pass that re-reads the answer
    as the reference's structured-text grammar (P2); rows failing both
    are quarantined. Three synthetic populations by doc_id%3: valid JSON
    (strict), structured text (repaired), free prose (quarantined).
    Every branch is template-generated from a bracket/quote-free
    vocabulary, so the whole flow, including the assembled repair prompt,
    is value-oracled."""
    d = _read(spark, sf, "documents")
    w = F.split(F.trim("text"), r"\s+")
    head = F.concat_ws(" ", F.slice(w, 1, 5))
    json_ans = F.concat(
        F.lit('Sure, here is the JSON:\n[{"name":"'), w[0],
        F.lit('","type":"COMPONENT","alternativeNames":["'), w[1],
        F.lit('"],"occurrences":["'), head,
        F.lit('"]}]\nHope that helps!'),
    )
    structured_ans = _structured_answer(w, head)
    garbage = F.lit(_GARBAGE_PROSE)
    m = F.pmod("doc_id", F.lit(3))
    answers = d.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.when(m == 0, json_ans)
        .when(m == 1, structured_ans)
        .otherwise(garbage)
        .alias("answer"),
    )
    out = repair_parse(answers)
    return out.select(
        "doc_id",
        "name",
        "entity_type",
        F.concat_ws(",", "alternative_names").alias("aliases"),
        F.concat_ws("|", "occ_texts").alias("occs"),
        "stage",
        "error",
        "repair_prompt",
    )


@_oracle(
    # the fake decoder is md5-derived (operators/media.py
    # _fake_decode), so DuckDB recomputes every value: exact
    # integer/dyadic-rational double arithmetic + one IEEE
    # float32 rounding (::REAL) replicated per component
    "WITH m AS (SELECT 'doc' || doc_id::VARCHAR AS doc_id, "
    "'image' AS kind, 1 AS offset, "
    "'media://' || doc_id::VARCHAR AS media_ref "
    "FROM documents WHERE doc_id < 200) "
    "SELECT doc_id, media_ref, "
    "(64 + ('0x' || substr(md5(media_ref), 1, 4))::UBIGINT % 1984)"
    "::INT AS width, "
    "(64 + ('0x' || substr(md5(media_ref), 5, 4))::UBIGINT % 1984)"
    "::INT AS height, "
    "(((('0x' || substr(md5(media_ref || ':0'), 1, 8))::UBIGINT "
    "/ 4294967296.0) * 2 - 1)::REAL)::DOUBLE AS emb_0, "
    "(((('0x' || substr(md5(media_ref || ':1'), 1, 8))::UBIGINT "
    "/ 4294967296.0) * 2 - 1)::REAL)::DOUBLE AS emb_1 "
    "FROM m"
)
def _q_media_features(spark, sf):
    """Multimodal plumbing: interleave deterministic media spans, extract
    (width, height, embedding) via the Arrow-batched fake decoder
    (operators/media.py; real decoders are the integration point).
    Since r4 the fake features are md5-derived (engine-portable), so
    this query is fully value-oracled: DuckDB recomputes width/height
    and the first two embedding components (emitted as scalar doubles —
    the driver's canonicalizer cannot hash list cells)."""
    flat = _read(spark, sf, "documents").filter(F.col("doc_id") < 200)
    docs = flat.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("image").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias(
                    "media_ref"
                ),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.substring("text", 1, 30).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
    )
    feats = extract_media_features(docs, dim=8)
    return feats.select(
        "doc_id",
        "media_ref",
        "width",
        "height",
        F.element_at("embedding", 1).cast("double").alias("emb_0"),
        F.element_at("embedding", 2).cast("double").alias("emb_1"),
    )


def _synth_media_df(spark, sf, kind):
    """Lazy media fixture: clip/image parameters are doc_id arithmetic
    and the payload bytes are synthesized INSIDE a mapInPandas stage on
    the executors (ADVICE r4: the previous version ran an eager
    .collect() + driver-side byte generation at plan-build time,
    contradicting the laziness contract). Building this DataFrame runs
    no Spark job; at scale the synth stage is a partition-preserving
    map, exactly like a real binary-column scan."""
    base = (
        _read(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").cast("long").alias("id"))
        .repartition(8)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if kind == "wav":
                    sr = 8000 + (i % 4) * 4000
                    n = 400 + i % 100
                    amp = 100 + i % 29000
                    k = 1 + i % 5
                    buf = (
                        b"RIFX broken"
                        if i % 13 == 0
                        else synth_wav(sr, n, amp, k)
                    )
                    rows.append(
                        (f"doc{i}", f"media://wav/{i}", bytearray(buf))
                    )
                else:
                    w, h = 4 + i % 13, 4 + i % 7
                    rgb = (i % 97, (i * 7) % 97, (i * 13) % 97)
                    buf = (
                        b"P6 broken header"
                        if i % 11 == 0
                        else synth_ppm(w, h, rgb)
                    )
                    rows.append(
                        (f"doc{i}", f"media://ppm/{i}", bytearray(buf))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "media_ref", "media_bytes"]
            )

    return base.mapInPandas(
        gen, schema="doc_id string, media_ref string, media_bytes binary"
    )


@_oracle(
    # inverse-function oracle: the PPM decoder must recover the
    # generator's analytic width/height/solid-color means
    "WITH p AS (SELECT doc_id AS i FROM documents WHERE doc_id < 200) "
    "SELECT 'doc' || i AS doc_id, 'media://ppm/' || i AS media_ref, "
    "CASE WHEN i % 11 = 0 THEN NULL ELSE (4 + i % 13)::INT END AS width, "
    "CASE WHEN i % 11 = 0 THEN NULL ELSE (4 + i % 7)::INT END AS height, "
    "CASE WHEN i % 11 = 0 THEN NULL ELSE (i % 97)::DOUBLE END AS mean_r, "
    "CASE WHEN i % 11 = 0 THEN NULL ELSE ((i * 7) % 97)::DOUBLE END AS mean_g, "
    "CASE WHEN i % 11 = 0 THEN NULL ELSE ((i * 13) % 97)::DOUBLE END AS mean_b, "
    "CASE WHEN i % 11 = 0 THEN 'bad header token: b''broken''' END AS error "
    "FROM p"
)
def _q_media_decode(spark, sf):
    """REAL image decode (pure-numpy P6 PPM parser, no codec libs):
    deterministic solid-color images generated per doc_id (executor-side
    via _synth_media_df), decoded distributed via Arrow-batched
    mapInPandas. The oracle verifies the decoder inverts the generator:
    expected width/height/channel means are computed analytically from
    doc_id. Every 11th image is malformed, exercising the quarantine
    path."""
    media = _synth_media_df(spark, sf, "ppm")
    out = extract_ppm_features(media)
    return out.select(
        "doc_id", "media_ref", "width", "height", "mean_r", "mean_g",
        "mean_b", "error",
    )


@_oracle(
    # inverse-function oracle: the WAV decoder must recover the
    # generator's analytic sample_rate / duration / rms /
    # zero-crossing count (square wave: rms == amplitude)
    "WITH p AS (SELECT doc_id AS i, 400 + doc_id % 100 AS n, "
    "8000 + (doc_id % 4) * 4000 AS sr, 100 + doc_id % 29000 AS amp, "
    "1 + doc_id % 5 AS k FROM documents WHERE doc_id < 200) "
    "SELECT 'doc' || i AS doc_id, 'media://wav/' || i AS media_ref, "
    "CASE WHEN i % 13 = 0 THEN NULL ELSE sr::INT END AS sample_rate, "
    "CASE WHEN i % 13 = 0 THEN NULL ELSE n::INT END AS n_samples, "
    "CASE WHEN i % 13 = 0 THEN NULL ELSE n::DOUBLE / sr::DOUBLE END "
    "AS duration_s, "
    "CASE WHEN i % 13 = 0 THEN NULL ELSE amp::DOUBLE END AS rms, "
    "CASE WHEN i % 13 = 0 THEN NULL ELSE ((n - 1) // k)::INT END "
    "AS zero_crossings, "
    "CASE WHEN i % 13 = 0 THEN 'not a RIFF/WAVE file' END AS error "
    "FROM p"
)
def _q_audio_decode(spark, sf):
    """REAL audio decode (pure-numpy PCM16 WAV parser, no codec libs —
    the audio sibling of q_media_decode's PPM image path): deterministic
    square-wave clips generated per doc_id (executor-side via
    _synth_media_df), decoded distributed via Arrow-batched mapInPandas.
    The oracle verifies the decoder inverts the generator analytically:
    rms == amplitude exactly (square wave), zero_crossings ==
    (n-1) // half_period, duration == n/sr. Every 13th clip is
    malformed, exercising the quarantine path."""
    media = _synth_media_df(spark, sf, "wav")
    return extract_wav_features(media).select(
        "doc_id", "media_ref", "sample_rate", "n_samples", "duration_s",
        "rms", "zero_crossings", "error",
    )


@_oracle(
    "WITH cand AS (SELECT doc_id, "
    "lower(string_split_regex(trim(text), '\\s+')[1]) AS cand "
    "FROM documents), "
    "gaz AS (SELECT cand AS gaz_name FROM cand GROUP BY cand "
    "ORDER BY count(*) DESC, cand LIMIT 20) "
    "SELECT c.doc_id, g.gaz_name AS linked_name "
    "FROM cand c JOIN gaz g ON c.cand = g.gaz_name"
)
def _q_gazetteer_link_j4(spark, sf):
    """J4 gazetteer-assisted linking as a broadcast hash join: candidate
    first-words vs a 20-term dictionary of the corpus's most frequent
    first-words (deterministic), normalized-equality scoring."""
    d = _read(spark, sf, "documents").select(
        "doc_id", F.lower(F.split(F.trim("text"), r"\s+")[0]).alias("cand")
    )
    gaz = (
        d.groupBy("cand")
        .count()
        .orderBy(F.desc("count"), "cand")
        .limit(20)
        .select(F.col("cand").alias("gaz_name"))
    )
    return (
        d.join(F.broadcast(gaz), d.cand == gaz.gaz_name, "inner")
        .select("doc_id", F.col("gaz_name").alias("linked_name"))
    )


@_oracle(
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
    "WHERE vec_id < 150) "
    "SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
    f"round({_cos('a.v', 'b.v')}, 4)::DOUBLE AS cos "
    "FROM e a JOIN e b ON a.vec_id < b.vec_id "
    f"WHERE round({_cos('a.v', 'b.v')}, 4) >= 0.2"
)
def _q_embed_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs (training-data dedup): all
    (a<b) pairs with cosine >= 0.2 within a deterministic candidate
    block; at scale the block is an LSH bucket (see q_ann_lsh_topk)."""
    e = (
        _read(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 150)
        # double precision to match the oracle's DOUBLE[] arithmetic at
        # the threshold boundary (float dot-products differ in ulps)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    return (
        pairs.select(
            "a_id", "b_id", F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cos")
        )
        .filter(F.col("cos") >= 0.2)
    )


@_oracle(
    "WITH dim AS (SELECT DISTINCT o_orderpriority, "
    "upper(substr(o_orderpriority, 1, 1)) AS prio_class FROM orders) "
    "SELECT o.o_orderpriority, d.prio_class, count(*)::BIGINT AS n "
    "FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority "
    "GROUP BY o.o_orderpriority, d.prio_class"
)
def _q_salted_join_skew(spark, sf):
    """Explicit skew handling (north_rule): orders.o_orderpriority has 5
    ultra-hot values; the salted join spreads each over n_salts reducers
    while the tiny dim is replicated. Result must equal a plain join."""
    o = _read(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    dim = (
        o.select(F.col("o_orderpriority"))
        .distinct()
        .withColumn("prio_class", F.upper(F.substring("o_orderpriority", 1, 1)))
    )
    joined = salted_join(o, dim, on=["o_orderpriority"], n_salts=8)
    return (
        joined.groupBy("o_orderpriority", "prio_class")
        .agg(F.count("*").cast("long").alias("n"))
    )


@_oracle(
    "SELECT l_returnflag, count(*)::BIGINT AS n FROM lineitem "
    "GROUP BY l_returnflag"
)
def _q_salted_count_skew(spark, sf):
    """Two-phase salted count for hot keys: partial per (key, salt),
    final per key (operators/skew.py salted_count)."""
    li = _read(spark, sf, "lineitem").select("l_returnflag")
    return salted_count(li, ["l_returnflag"], n_salts=8)


@_oracle(
    "SELECT r.r_name AS entity_type, r.r_name || ' entities: ' || "
    "string_agg(n.n_name, ', ' ORDER BY n.n_name) AS prompt_line "
    "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey "
    "GROUP BY r.r_name"
)
def _q_prompt_assembly_p6(spark, sf):
    """P6 prompt assembly (recognizer/Prompt.java:56-85): group the
    dictionary by type, render '<type> entities: n1, n2, ...' with
    deterministic name order."""
    n = _read(spark, sf, "nation")
    r = _read(spark, sf, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        j.groupBy(F.col("r_name").alias("entity_type"))
        .agg(
            F.concat(
                F.col("r_name"),
                F.lit(" entities: "),
                F.concat_ws(", ", F.array_sort(F.collect_list("n_name"))),
            ).alias("prompt_line")
        )
    )


@_oracle(
    "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, "
    "time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end, "
    "event_type, count(*)::BIGINT AS n_events, "
    "round(sum(value), 4) AS sum_value "
    "FROM events GROUP BY 1, 2, 3"
)
def _q_windowed_events(spark, sf):
    """Event-time tumbling-window aggregation (streaming operator's
    batch form — streaming/stream.py windowed_event_counts)."""
    ev = _read(spark, sf, "events")
    return windowed_event_counts(ev, window="1 hour", watermark="1 hour")


@_oracle(
    "WITH g AS (SELECT user_id, ts, value, "
    "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
    ">= INTERVAL '30 minutes' OR "
    "lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "THEN 1 ELSE 0 END AS is_new FROM events), "
    "s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS session_no FROM g) "
    "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
    "count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value "
    "FROM s GROUP BY user_id, session_no"
)
def _q_sessionize(spark, sf):
    """Session windows, batch form (streaming/sessions.py — the custom
    applyInPandasWithState operator's cross-check semantics)."""
    ev = _read(spark, sf, "events").select("user_id", "ts", "value")
    return sessionize_batch(ev, gap_minutes=30)


@_oracle(
    "SELECT p.p_brand, n.n_name, "
    "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue, "
    "count(*)::BIGINT AS n_items "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "GROUP BY p.p_brand, n.n_name"
)
def _q_brand_volume(spark, sf):
    """Fact-to-dims star join: lineitem x broadcast(part) x
    broadcast(supplier->nation), grouped revenue per (brand, nation)."""
    li = _read(spark, sf, "lineitem")
    p = _read(spark, sf, "part")
    su = _read(spark, sf, "supplier")
    n = _read(spark, sf, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


#: The driver's per-round correctness run verifies only the FIRST
#: ``WINDOW_SIZE`` keys of queries().
WINDOW_SIZE = 50

#: Permanently pinned to the head of the verification window: the
#: flagship pair + every reference-core §2 operator (CLAUDE.md
#: invariant — these must re-earn a driver-green row EVERY round).
WINDOW_PINNED = [
    # flagship KG construction (L1, SURVEY §2.7)
    "q_naer_triples",
    "q_naer_entities",
    # reference-core §2 operators
    "q_gazetteer_link_j4",
    "q_alias_cc_j3",
    "q_structured_parse_p2",
    "q_json_parse_p1",
    "q_repair_parse",
    "q_answer_window_f4",
    "q_validate_f1",
    "q_line_projection_f2",
    "q_reassemble_f3",
    "q_none_filter_f5",
    "q_clean_name_f6",
    "q_lowercase_f7",
    "q_change_name_p5",
    "q_prompt_assembly_p6",
    "q_charset_key_j1",
    "q_jaccard_pairs_j1",
    "q_direct_classify_j2",
    "q_eval_pr_j5",
    "q_eval_pr_complex",
    "q_group_collect_a1",
    "q_occurrence_lines_a2",
    "q_dedup_a3",
    "q_set_ops",
    "q_argmax_window_a7",
]

#: where the committed CORRECTNESS_r<N>.json artifacts are read from
_ARTIFACTS = Path(__file__).resolve().parent


def _last_hash_green() -> dict[str, int]:
    """Each query's last round N whose CORRECTNESS_r<N>.json records it
    hash-green (``hash_match`` true; a row-count or schema match alone
    does not count). N is read as an integer, so r10 follows r09."""
    rounds = sorted(
        (int(m.group(1)), p)
        for p in _ARTIFACTS.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    )
    last = {}
    for rnd, path in rounds:
        for q, v in json.loads(path.read_text()).items():
            if v.get("hash_match"):
                last[q] = rnd
    return last


def window_order(keys) -> list:
    """The load-bearing queries() ordering: WINDOW_PINNED, then every
    other key sorted stalest-first by (last hash-green round, name). A
    query never hash-green counts as round 0, so a new query enters the
    window at once, and without artifacts the extras fall back to name
    order. Each round the spare slots go to the stalest extras, so an
    extra waits at most ceil(n_extras / n_spare_slots) rounds (simulated
    in tests/test_driver_contract.py)."""
    last = _last_hash_green()
    extras = [k for k in keys if k not in WINDOW_PINNED]
    return WINDOW_PINNED + sorted(extras, key=lambda k: (last.get(k, 0), k))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-contract queries, in window_order: the driver's per-round
    correctness run verifies the FIRST ``WINDOW_SIZE`` keys only."""
    builders = {name: fn for name, (fn, _) in _REGISTRY.items()}
    return {k: builders[k] for k in window_order(builders)}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every query, from the same registry."""
    return {name: sql for name, (_, sql) in _REGISTRY.items()}
