"""Corpus-management operators for large-scale training-data pipelines:
duplicate clustering, deterministic splits, sequence packing, and
benchmark-contamination checks.

These complete the dedup story: pairwise candidates (operators/dedup.py)
are not actionable at 100 TB — the pipeline needs per-document verdicts
(keep/drop) and cluster representatives, deterministic train/val/test
assignment that survives re-runs and backfills, packing of short
documents into fixed token budgets, and an eval-set leakage check.

Portability rule (same as dedup.py): all hashing is md5-based so every
operator has an exact DuckDB oracle. Everything is Catalyst built-ins
except two Python kernels on the near-dup path: the minhash signatures
(operators/dedup.minhash_signatures_df, identical to the Catalyst
minhash_signature column the oracle mirrors) and the per-partition
union-find of connected components (operators/cc.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.dedup import (
    minhash_bands,
    shingles,
)
from named_architecture_entity_recognition_spark.operators.sketch import (
    md5_hex_value,
)
from named_architecture_entity_recognition_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    tokens,
)
from named_architecture_entity_recognition_spark.sources.lakehouse import RAW_LOCAL_FS

#: the salted md5 fractions below read 8 hex digits
_HEX8 = float(16**8)


def _unit_fraction(id_col: str, salt: str) -> Column:
    """md5(salt || id)'s first 8 hex digits / 16^8: uniform on [0, 1)."""
    return md5_hex_value(F.col(id_col), salt, 8) / F.lit(_HEX8)


def dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS: LSH band buckets -> connected components
    -> (doc_id, cluster_id, keep).

    cluster_id = min doc_id in the component; keep = (doc_id ==
    cluster_id), i.e. one canonical representative per duplicate
    cluster. Docs with no near-dup are singleton clusters (keep=true),
    included via a left join back to the corpus — the output is a
    per-document verdict, directly joinable as the dedup filter of a
    training pipeline.

    Edges link each doc to its buckets (minhash_bands), never to other
    docs: a bucket's star has the components of its pair clique, from
    docs x bands edges instead of B(B-1)/2 pairs, so any bucket size
    clusters exactly. Doc labels "d<key>" sort before bucket labels
    "e|...", so every component's minimum is a doc. The repartition on
    the bucket puts the MinHash kernel and CC's union-find
    (operators/cc.py, at most log2(P)+1 rounds) in separate stages.
    """
    from named_architecture_entity_recognition_spark.operators.cc import (
        connected_components,
    )

    ids = docs.select("doc_id")
    doc_type = dict(ids.dtypes)["doc_id"]
    numeric = doc_type in ("tinyint", "smallint", "int", "bigint")
    # CC labels compare as strings: numeric ids shift by 2^63 onto
    # [0, 2^64) and zero-pad to 20 digits, so label order is numeric
    # order ("02" < "10", unlike "2"), negative ids included
    shift = F.lit(str(2**63)).cast("decimal(20,0)")
    dec = lambda c: c.cast("decimal(20,0)")  # noqa: E731
    key = F.col("doc_id").cast("string")
    if numeric:
        key = F.lpad((dec(F.col("doc_id")) + shift).cast("string"), 20, "0")

    def doc_of(label):
        c = F.col(label).substr(F.lit(2), F.length(label))
        return (dec(c) - shift).cast(doc_type) if numeric else c

    edges = minhash_bands(
        docs, text_col, n_hashes, bands, shingle_n
    ).repartition("band_idx", "band_key").select(
        F.concat(F.lit("d"), key).alias("src"),
        F.concat_ws("|", F.lit("e"), "band_idx", "band_key").alias("dst"),
    )
    comp = connected_components(edges, checkpoint_dir=checkpoint_dir)
    joined = ids.join(
        comp.filter(F.col("node").startswith("d")).select(
            doc_of("node").alias("doc_id"), doc_of("component").alias("comp")
        ),
        "doc_id",
        "left",
    )
    # comp includes the node itself in its reachable set, so comp <=
    # doc_id whenever present; absent (too short to band) -> singleton
    return joined.select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("cluster_id"),
    ).withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


def hash_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket.

    frac(doc) = first 8 hex chars of md5(salt || id) / 16^8 — uniform on
    [0,1), stable across runs, engines and backfills (new docs never
    move old docs between splits, unlike random/modulo-on-row-number
    splits). The salt versions the split: bump it to reshuffle.

    Output: docs columns + split. Pure per-row expression — no shuffle,
    no Python, trivially pushes through to any downstream filter
    (``split = 'train'`` prunes at scan time if materialized as a
    partition column).
    """
    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not weights or any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-empty and non-negative: {weights}")
    total = sum(weights.values())
    frac = _unit_fraction(id_col, salt)
    cum = 0.0
    expr = None
    items = list(weights.items())
    for name, wgt in items[:-1]:
        cum += wgt / total
        cond = frac < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return docs.withColumn("split", expr)


def sample_mixture(
    docs: DataFrame,
    rates: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic domain-mixture downsampling: keep each row with
    probability ``rates[key]`` (``default_rate`` for unlisted keys).

    frac(doc) = first 8 hex chars of md5(salt || id) / 16^8 — the same
    uniform [0,1) hash as hash_split, under its OWN salt so mixture
    membership is independent of split assignment. A row is kept iff
    frac < rate(key), which makes the sample:

    - reproducible: identical keep-set on every run/engine;
    - backfill-stable: new docs never flip old docs in or out;
    - nested: the rate-r sample is a superset of every rate-r' < r
      sample, so mixture weights can be retuned without re-reading the
      kept data that both mixtures share.

    Pure per-row expression — no shuffle, no Python, composes with any
    scan (Catalyst evaluates it as an ordinary filter). This is the
    standard "sample source X at 30%, upweight wiki to 100%" mixture
    step of a training-corpus recipe, done without randomness.
    """
    bad = {k: r for k, r in rates.items() if not 0.0 <= float(r) <= 1.0}
    if not rates or bad or not 0.0 <= float(default_rate) <= 1.0:
        raise ValueError(
            f"rates must be non-empty with values in [0,1]: {bad or rates},"
            f" default_rate={default_rate}"
        )
    frac = _unit_fraction(id_col, salt)
    rate = None
    for k, r in rates.items():
        cond = F.col(key_col) == k
        lit = F.lit(float(r))
        rate = F.when(cond, lit) if rate is None else rate.when(cond, lit)
    rate = rate.otherwise(F.lit(float(default_rate)))
    return docs.where(frac < rate)


def stratified_sample_exact(
    docs: DataFrame,
    k: int,
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strat-v1",
) -> DataFrame:
    """Exactly ``min(k, stratum size)`` rows per ``key_col`` stratum:
    the k rows with the smallest ``md5(salt || id)`` — a deterministic
    stand-in for uniform-without-replacement sampling (the hash order is
    uniform and engine-portable, so DuckDB reproduces the identical
    sample; 32-char lowercase hex compares identically as string and as
    number, no conv needed).

    Unlike :func:`sample_mixture` (rate-based, shuffle-free,
    backfill-stable) this guarantees an exact count — the right tool for
    fixed-size eval/calibration sets — at the price of one rank window
    per stratum and of backfills shifting the sample (a new doc with a
    small hash evicts the current k-th). A single hot stratum sorts on
    one reducer; at extreme skew pre-thin with sample_mixture at rate
    ~10k/stratum_size first, then take the exact k from the survivors
    (hash order is preserved under thinning, so the composition yields
    the same k rows whenever the thinning keeps them).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): inclusion probability proportional to ``weight_col``
    at every prefix. Each row gets key = -ln(u)/w with u the same
    deterministic md5-uniform as :func:`sample_mixture` (own salt);
    the k smallest keys are the sample — equivalent to drawing rows
    one-by-one with probability w/remaining-total-w, the standard
    distributed one-pass weighted reservoir.

    Deterministic and engine-portable (DuckDB recomputes the identical
    keys: q_weighted_sample), so resume/backfill re-selects the same
    rows for unchanged (id, weight) pairs. The global top-k is
    TakeOrderedAndProject (per-partition heaps + driver merge of k) —
    no global sort, no shuffle of non-winners. Zero/negative/null
    weights are excluded (they'd be never-chosen / undefined).

    Typical use: size-proportional doc sampling (weight = token count)
    for eval-set mining or mixture calibration, where uniform hash
    sampling (:func:`stratified_sample_exact`) over-represents short
    docs.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # (0, 1]: ln(u) defined, key finite
    u = (md5_hex_value(F.col(id_col), salt, 8) + F.lit(1.0)) / F.lit(_HEX8)
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_wkey", key)
        .orderBy(F.asc("_wkey"), F.asc(id_col))
        .limit(k)
        .drop("_wkey")
    )


def token_count(col) -> Column:
    """Whitespace token count: the size of trim(col) split on runs of
    whitespace (an empty text counts 1). Unlike textstats.token_count
    it drops no empty tokens and adds no subword estimate."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    part_col: str = "source",
    text_col: str = "text",
    order_col: str = "doc_id",
) -> DataFrame:
    """Pack documents into ~budget_tokens groups for sequence training.

    Greedy prefix packing per partition key: docs are ordered by
    ``order_col`` within ``part_col``; pack_no = floor(exclusive-cumsum
    of token counts / budget). Every pack holds consecutive docs whose
    combined tokens reach the budget (the last doc may overflow by at
    most one document — standard approximate packing; exact bin packing
    is NP-hard and order-destroying).

    Scale: ONE window shuffle on part_col. Deterministic total order
    inside each partition key. If one source dominates (skew), pre-split
    it by a hash sub-key upstream — packing only requires
    *some* stable grouping, not a specific one.

    Output: (doc_id, part, n_tokens, pack_no, pack_id).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: {budget_tokens}")
    w = (
        Window.partitionBy("part")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = docs.select(
        F.col(order_col).alias("doc_id"),
        F.col(part_col).alias("part"),
        token_count(text_col).alias("n_tokens"),
    )
    packed = toks.withColumn(
        "pack_no",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(budget_tokens)
        ).cast("int"),
    )
    return packed.withColumn(
        "pack_id", F.concat_ws("#", "part", F.col("pack_no").cast("string"))
    )


def contamination(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination check: which eval documents leak into the
    training corpus?

    Containment (asymmetric, unlike Jaccard): for each (eval, train)
    pair sharing at least one shingle, score = |shingles(eval) ∩
    shingles(train)| / |shingles(eval)|. A training doc that CONTAINS an
    eval doc scores 1.0 even if it is much longer — exactly the leakage
    case Jaccard under-weights.

    Plan: inverted-index equi-join on the shingle (never all-pairs),
    count shared shingles per pair (map-side partial agg), divide by the
    eval doc's shingle count.

    Output: (eval_id, train_id, containment) with containment >=
    threshold.
    """
    ev = evalset.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    ev_sizes = ev.groupBy("eval_id").agg(F.count("*").alias("n_eval_sh"))
    tr = train.select(
        F.col("doc_id").alias("train_id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    shared = (
        ev.join(tr, "sh")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("n_shared"))
    )
    scored = shared.join(ev_sizes, "eval_id").select(
        "eval_id",
        "train_id",
        F.round(F.col("n_shared") / F.col("n_eval_sh"), 6).alias("containment"),
    )
    return scored.filter(F.col("containment") >= threshold)


def prepare_corpus(
    docs: DataFrame,
    text_col: str = "text",
    lang_allow: tuple = ("en",),
    min_quality: float = 0.9,
    salt: str = "split-v1",
    weights: dict | None = None,
    n_hashes: int = 4,
    bands: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    materialize_dir: str | None = None,
) -> DataFrame:
    """The composed data-prep pipeline a training corpus actually ships
    through: language filter -> quality filter -> exact dedup -> near-dup
    cluster dedup -> deterministic split assignment.

    Output: (doc_id, status, split) — status 'kept' with a split for
    survivors; drop reason ('lang' | 'quality' | 'exact_dup' |
    'near_dup') with NULL split otherwise. Every input doc appears
    exactly once; precedence = cheapest-filter-first, so expensive
    stages (MinHash, CC) only see rows the per-row filters passed —
    the standard funnel shape at 100 TB.

    Stage shapes: lang/quality are codegen'd per-row expressions; exact
    dedup is one window over the content fingerprint (shuffle on
    fingerprint hash); near-dup is dup_clusters (LSH buckets + CC)
    confined to exact-dedup survivors; the split is a per-row hash.

    ``max_bucket_size`` is ignored (dup_clusters has no cap); the next
    benchmark change stops passing it and removes it.

    The lazy plan scans the corpus once per union branch (4 scans —
    visible in explain; Spark does NOT dedup them). Fine at test scale;
    at 100 TB pass ``materialize_dir``: each stage whose output feeds
    TWO branches (flagged, ranked, clusters) is then written to a
    parquet stage table once and read back, so the raw corpus is
    scanned exactly once and every later stage reads its own (much
    smaller) input exactly once — the same stage-table shape as
    plans/lineage.py. Output identical either way (pytest-asserted).
    """
    def mat(df: DataFrame, name: str) -> DataFrame:
        # stage-table materialization: cuts the re-scan every branch
        # fork costs in the lazy plan, and truncates lineage (a failed
        # executor replays one stage, not the whole funnel)
        if materialize_dir is None:
            return df
        path = f"{materialize_dir}/{name}"
        df.write.mode("overwrite").options(**RAW_LOCAL_FS).parquet(path)
        return df.sparkSession.read.parquet(path)

    c = F.col(text_col)
    base = docs.select("doc_id", text_col)
    flagged = mat(
        base.withColumn(
            "pre_reason",
            F.when(~lang_id(c).isin(*lang_allow), F.lit("lang")).when(
                quality_score(c) < F.lit(min_quality), F.lit("quality")
            ),
        ),
        "flagged",
    )
    pre_drops = flagged.filter(F.col("pre_reason").isNotNull()).select(
        "doc_id", F.col("pre_reason").alias("status")
    )
    surv1 = flagged.filter(F.col("pre_reason").isNull()).drop("pre_reason")

    w = Window.partitionBy("fp").orderBy("doc_id")
    ranked = mat(
        surv1.withColumn("fp", fingerprint(c)).withColumn(
            "rn", F.row_number().over(w)
        ),
        "ranked",
    )
    exact_drops = ranked.filter(F.col("rn") > 1).select(
        "doc_id", F.lit("exact_dup").alias("status")
    )
    surv2 = ranked.filter(F.col("rn") == 1).select("doc_id", text_col)

    clusters = mat(
        dup_clusters(surv2, text_col, n_hashes, bands, shingle_n),
        "clusters",
    )
    near_drops = clusters.filter(~F.col("keep")).select(
        "doc_id", F.lit("near_dup").alias("status")
    )
    kept = hash_split(
        clusters.filter(F.col("keep")).select("doc_id"),
        weights=weights,
        salt=salt,
    ).select("doc_id", F.lit("kept").alias("status"), "split")

    dropped = pre_drops.unionByName(exact_drops).unionByName(near_drops)
    return kept.unionByName(
        dropped.withColumn("split", F.lit(None).cast("string"))
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    max_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-budget token chunks with overlap —
    the standard pre-tokenization step of an LLM training pipeline
    (long documents must fit the context budget; overlap preserves
    cross-boundary context).

    -> (doc_id, chunk_id, n_tokens, chunk_text): chunk i covers tokens
    [i*stride+1, i*stride+max_tokens] of the whitespace token stream
    (stride = max_tokens - overlap), so consecutive chunks share
    exactly ``overlap`` tokens; the final chunk may be shorter. Chunk
    text is the tokens re-joined with single spaces (i.e. whitespace-
    normalized and lowercased, matching textstats.tokens). Empty docs
    produce no chunks.

    Scale shape: pure-Catalyst narrow map + posexplode — zero
    shuffles, zero Python; at 100 TB this runs fused inside the scan
    stage. Chunk count per doc is ceil-bounded, so executor memory per
    row is bounded by the longest single document (pathological
    100M-token docs should be pre-split at ingest — same caveat as
    pack_sequences).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}"
        )
    stride = max_tokens - overlap
    w = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col), w.alias("_w"), F.size(w).alias("_n")
    ).filter(F.col("_n") > 0)
    n_chunks = (
        F.lit(1)
        + F.ceil(
            F.greatest(F.col("_n") - max_tokens, F.lit(0)) / float(stride)
        )
    ).cast("int")
    exploded = base.select(
        id_col,
        "_w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice("_w", F.col("chunk_id") * stride + 1, max_tokens)
    return exploded.select(
        id_col,
        "chunk_id",
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
