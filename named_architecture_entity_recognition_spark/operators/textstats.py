"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure Catalyst expressions (codegen'd, DuckDB-oracle-exact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "for",
    "on", "with", "as", "by", "it", "this", "that", "from", "at", "be",
)

# tiny per-language marker sets for the n-gram/stopword language-ID
# heuristic (public-knowledge common words)
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def tokens(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: t != "")


def token_count(col) -> Column:
    """Whitespace tokens plus a BPE-ish subword estimate: words longer
    than 6 chars count ceil(len/6) subtokens."""
    t = tokens(col)
    return F.aggregate(
        t,
        F.lit(0),
        lambda acc, w: acc + F.greatest(F.ceil(F.length(w) / 6.0), F.lit(1)).cast("int"),
    )


def word_count(col) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col) -> Column:
    t = tokens(col)
    sw = F.size(F.filter(t, lambda w: w.isin(*_STOPWORDS)))
    return sw / F.greatest(F.size(t), F.lit(1))


def mean_word_length(col) -> Column:
    t = tokens(col)
    return F.aggregate(
        t, F.lit(0), lambda acc, w: acc + F.length(w)
    ) / F.greatest(F.size(t), F.lit(1))


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword band +
    word-length band (crude but deterministic and monotone-sane)."""
    wc = word_count(col)
    length_ok = ((wc >= 10) & (wc <= 10000)).cast("double")
    sw = stopword_ratio(col)
    sw_ok = ((sw >= 0.05) & (sw <= 0.6)).cast("double")
    mwl = mean_word_length(col)
    mwl_ok = ((mwl >= 2.0) & (mwl <= 12.0)).cast("double")
    return F.round((length_ok + sw_ok + mwl_ok) / 3.0, 6)


def lang_id(col) -> Column:
    """Marker-word vote language ID; 'und' when no marker hits. Each
    count is evaluated once; the first maximum wins, so ties go to the
    language listed first and the leading 0 makes all-zero 'und'."""
    t = tokens(col)
    langs = F.array(*map(F.lit, ("und", *_LANG_MARKERS)))
    scores = F.array(
        F.lit(0),
        *[F.size(F.filter(t, lambda w: w.isin(*markers)))
          for markers in _LANG_MARKERS.values()],
    )
    return F.element_at(
        langs, F.array_position(scores, F.array_max(scores)).cast("int")
    )


def fingerprint(col) -> Column:
    """Canonical document fingerprint: md5 of whitespace-normalized
    lowercased text (exact-dedup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def _ngrams_of(t: Column, n: int) -> Column:
    """n-gram array from an ALREADY-TOKENIZED array column."""
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.array_join(F.slice(t, i + F.lit(1), n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_stats(grams: Column) -> Column:
    """struct(maxrun, dups) over the sorted gram array in ONE pass.

    maxrun = count of the most frequent gram; dups = occurrences beyond
    each gram's first (= total - distinct). Sorting groups equal grams
    into runs, so both fall out of a single linear aggregate — per-row,
    JVM-side, no explode/groupBy shuffle and no Python.
    """
    s = F.array_sort(grams)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"),
        F.lit(0).alias("dups"),
    )

    def step(acc, x):
        same = acc["prev"].eqNullSafe(x)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            (acc["dups"] + F.when(same, F.lit(1)).otherwise(F.lit(0))).alias(
                "dups"
            ),
        )

    return F.aggregate(
        s,
        init,
        step,
        lambda a: F.struct(a["maxrun"].alias("maxrun"), a["dups"].alias("dups")),
    )


def _frac(num: Column, tot: Column) -> Column:
    return F.when(tot > 0, F.round(num.cast("double") / tot, 6)).otherwise(
        F.lit(0.0)
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    top2_max: float = 0.20,
    top3_max: float = 0.18,
    dup5_max: float = 0.30,
    min_words: int = 20,
) -> DataFrame:
    """Gopher/C4-style within-document repetition filters.

    Per doc: fraction of 2-grams (3-grams) taken by the single most
    frequent 2-gram (3-gram), fraction of 5-gram occurrences that are
    repeats of an earlier 5-gram, and a ``repetitive`` verdict when any
    fraction exceeds its threshold (defaults near the published Gopher
    cut-offs). Boilerplate/spam/generation loops score high; natural
    prose scores near 1/n_grams. Docs under ``min_words`` are never
    flagged — a 7-word doc has top-gram fraction ≥ 1/6 by pigeonhole,
    which is length, not repetition (short docs belong to the length
    filter, not this one).

    Scale: entirely per-row Catalyst higher-order functions — n-gram
    array, sort, one linear run-length aggregate. Zero shuffle, zero
    Python, embarrassingly parallel at any corpus size (contrast the
    equivalent explode → groupBy(doc, gram) plan, which shuffles one
    row per token occurrence).

    Thresholds apply to the ROUNDED fractions (round 6), so the verdict
    is bit-stable across engines.

    The plan tokenizes ONCE and builds each n-gram array ONCE, via
    layered projections: Catalyst's CollapseProject keeps a non-cheap
    alias materialized when it is referenced more than once, so the
    split/transform work is not re-inlined per metric (inlining would
    re-split the text ~30× per row).
    """
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("_ws"))
    grams = toks.select(
        "doc_id",
        F.size("_ws").alias("_nw"),
        _ngrams_of(F.col("_ws"), 2).alias("_g2"),
        _ngrams_of(F.col("_ws"), 3).alias("_g3"),
        _ngrams_of(F.col("_ws"), 5).alias("_g5"),
    )
    out = grams.select(
        "doc_id",
        "_nw",
        _frac(_run_stats(F.col("_g2"))["maxrun"], F.size("_g2")).alias(
            "top2gram_frac"
        ),
        _frac(_run_stats(F.col("_g3"))["maxrun"], F.size("_g3")).alias(
            "top3gram_frac"
        ),
        _frac(_run_stats(F.col("_g5"))["dups"], F.size("_g5")).alias(
            "dup5gram_frac"
        ),
    )
    return out.withColumn(
        "repetitive",
        (F.col("_nw") >= min_words)
        & (
            (F.col("top2gram_frac") > top2_max)
            | (F.col("top3gram_frac") > top3_max)
            | (F.col("dup5gram_frac") > dup5_max)
        ),
    ).drop("_nw")


def vocab_topk(docs: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k vocabulary: (token, n_docs, n_occurrences),
    ordered by occurrences desc then token asc (deterministic ties).

    The canonical two-level aggregation: explode tokens, then ONE hash
    aggregate on the token — Spark's partial (map-side) aggregation
    collapses each partition's counts before the shuffle, so shuffle
    volume is O(distinct tokens per partition), not O(token
    occurrences). The top-k itself is TakeOrderedAndProject (per-
    partition heaps + driver merge of k rows), never a global sort.
    """
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(k)


# Public-pattern PII regexes (ASCII classes, identical semantics in
# Java regex and RE2/DuckDB — keep them dialect-neutral: no lookaround,
# no \p classes).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, IPv4s and international phone numbers from the
    text column, appending per-kind hit counts.

    Entirely codegen'd regexp_replace / regexp ops — per-row, zero
    shuffle, safe to fuse into any scan. Patterns are deliberately
    dialect-neutral (plain ASCII classes, no lookaround) so the DuckDB
    oracle runs the very same strings; order matters (emails first,
    else the IP rule could eat dotted hosts inside an address).
    """
    c = F.col(text_col)
    out_cols = [col for col in docs.columns if col != text_col]
    red = c
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        red = F.regexp_replace(red, pat, repl)
    return docs.select(*out_cols, *counts, red.alias(text_col))


def collocations(
    docs: DataFrame, k: int = 50, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information:
    (bigram, w1, w2, n, pmi) with

        pmi = ln( (n/M) / ((c1/N) * (c2/N)) )

    over corpus totals N (tokens) and M (bigrams) — the standard
    Church-Hanks association measure for discovering multi-word
    expressions worth protecting from tokenization/dedup shredding.

    Scale shape: bigram and unigram counts are partial-agg groupBys
    (shuffle = distinct n-grams, not occurrences); totals are ONE
    broadcast single-row aggregate; the two count joins are equi-joins
    on the word (hot stopword keys are the `operators/skew.py` story,
    and ``min_count`` prunes the long tail before both joins). PMI is
    a pure product/log expression — deterministic, identical in DuckDB
    (q_collocations), no summation-order noise. Top-k is
    TakeOrderedAndProject with (pmi, bigram) tie-break.
    """
    if k < 1 or min_count < 1:
        raise ValueError(f"k and min_count must be >= 1: {k}, {min_count}")
    tok = docs.select(tokens(F.col(text_col)).alias("t"))
    totals = tok.agg(
        F.sum(F.size("t")).cast("double").alias("n_uni"),
        F.sum(F.greatest(F.size("t") - 1, F.lit(0)))
        .cast("double")
        .alias("n_big"),
    )
    uni = (
        tok.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = tok.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .join(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "w1",
            "w2",
            "n",
            F.round(
                F.log(
                    (F.col("n") / F.col("n_big"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(k)


def lm_score(
    docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality signal: train an additively
    smoothed bigram LM on the corpus itself and score every doc by
    the cross-entropy of its bigrams under it —
    (doc_id, n_bigrams, cross_entropy in nats, lower = more fluent
    relative to the corpus). The standard perplexity filter
    of training-data pipelines (CCNet buckets corpora by exactly this
    statistic).

        P(w2 | w1) = (c(w1 w2) + alpha) / (h(w1) + alpha * V)

    with c = bigram count, h = bigram-history count (bigrams starting
    with w1), V = reference vocabulary size; additive smoothing keeps
    unseen bigrams finite. Docs with < 2 tokens have no bigrams and
    are absent from the output.

    Scale shape: the LM is two partial-agg groupBys (shuffle = distinct
    n-grams, not occurrences) + one single-row broadcast (V); scoring
    is two equi-joins on (w1, w2) / (w1) — AQE broadcasts a small LM,
    shuffle-joins a web-scale one; hot stopword histories are the
    `operators/skew.py` salting story. The final per-doc aggregate is
    a partial-agg avg. No Python anywhere.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    def bigrams_of(frame, keep_id):
        tok = frame.select(
            F.col(id_col), tokens(F.col(text_col)).alias("t")
        )
        cols = [id_col] if keep_id else []
        return tok.select(
            *cols,
            F.explode(
                F.when(
                    F.size("t") >= 2,
                    F.expr(
                        "transform(sequence(0, size(t) - 2),"
                        " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                    ),
                ).otherwise(F.expr("array()"))
            ).alias("bg"),
        ).select(*cols, "bg.w1", "bg.w2")

    ref_bg = bigrams_of(docs, keep_id=False)
    pair = ref_bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    hist = ref_bg.groupBy("w1").agg(
        F.count(F.lit(1)).cast("double").alias("_h")
    )
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("x"))
        .agg(F.countDistinct("x").cast("double").alias("_v"))
    )
    scored = (
        bigrams_of(docs, keep_id=True)
        .join(pair, ["w1", "w2"], "left")
        .join(hist, ["w1"], "left")
        .join(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.coalesce("_n", F.lit(0.0)) + F.lit(alpha))
                / (F.coalesce("_h", F.lit(0.0)) + F.lit(alpha) * F.col("_v"))
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.avg("_lp")).alias("cross_entropy"),
    )
