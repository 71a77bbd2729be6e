"""Training-data deduplication operators over a flat documents table
(doc_id, text): exact, MinHash+LSH, SimHash, duplicated spans.

Portability rule: all hashing is md5-based (identical in Spark SQL and
DuckDB), so every operator has an exact DuckDB oracle and results are
engine-stable. The per-row MinHash and SimHash signatures run as
Arrow-batched Python kernels, each asserted identical in tests to its
Catalyst column (minhash_signature, simhash64), which is the form the
DuckDB oracles mirror; everything else is whole-stage-codegen'd
Catalyst.

Scale notes (100 TB): shingling/minhash are narrow per-row maps; the
only shuffles are the final groupBy/join on band/bucket keys, which is
exactly the LSH design goal (candidate pairs only, never all-pairs).
A hot bucket (boilerplate text) of B docs still emits B*(B-1)/2 pairs;
clustering that must stay linear reads the band rows instead
(corpus.dup_clusters). AQE skew join handles residual imbalance.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.textstats import (
    tokens,
)


def _words(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct).

    element_at per position instead of slice(): slice allocates a new
    sub-array per shingle (O(len^2) churn in the interpreted
    higher-order-function path).

    Docs with fewer than n words produce an EMPTY array — Spark's
    sequence(1, 0) counts DOWN ([1, 0]), so the naive sequence would
    index past the end and kill the task on any 1-word doc; the count
    guard makes short docs a no-op instead of a job failure (and
    matches DuckDB generate_series(1, 0) = empty in the oracles)."""
    w = _words(col)
    count = F.greatest(F.size(w) - (n - 1), F.lit(0))
    idx = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + k) for k in range(n)]
            ),
        )
    )


#: the two columns that name an LSH bucket in the band rows of _bands
_BUCKET = ("band_idx", "band_key")


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: (text_hash, n_dups, keep_id=min doc_id)."""
    return (
        docs.select(
            F.md5(F.trim(F.lower(F.col(text_col)))).alias("text_hash"),
            F.col("doc_id"),
        )
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def minhash_signature(col, n_hashes: int = 8, shingle_n: int = 3) -> Column:
    """MinHash signature as array<string>: per seed, min md5(seed||shingle).

    min over lexicographic md5 hex = a valid permutation-min family;
    md5 keeps Spark/DuckDB results byte-identical.

    Implemented as ONE ``aggregate`` pass over the shingle array with an
    n_hashes-wide running-min accumulator: a per-seed ``transform``
    would re-evaluate the whole shingle-construction subtree once per
    seed (higher-order functions are interpreted, no common-subexpr
    elimination), which measured ~n_hashes x slower.
    """
    sh = shingles(col, shingle_n)
    seeds = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    # '~' (0x7e) sorts after every hex digit, so it is the identity for
    # lexicographic min over md5 strings
    init = F.transform(seeds, lambda _: F.lit("~"))
    agg = F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            seeds,
            lambda a, i: F.least(a, F.md5(F.concat(i.cast("string"), s))),
        ),
    )
    # empty shingle array -> null entries (array_min-of-empty semantics,
    # keeps the DuckDB list_min oracle byte-identical); mapping the
    # sentinel afterwards evaluates the shingle subtree exactly once
    return F.transform(
        agg, lambda x: F.when(x != "~", x).otherwise(F.lit(None).cast("string"))
    )


def _bands(
    docs: DataFrame,
    text_col: str,
    shingle_n: int,
    signatures,
    bands: Column,
    carry: tuple = (),
) -> DataFrame:
    """The band rows of every LSH path: (doc_id, ``carry`` columns,
    band_idx, band_key). ``signatures`` maps the eligible docs to
    (doc_id, sig); ``bands`` is the array of band values computed from
    ``sig``, posexploded into (band_idx, band_key).

    Docs with fewer than shingle_n words have EMPTY shingle sets and
    identical signatures — at 10^12 rows they would collide in one
    degenerate bucket. No shingles = no content to near-match (exact
    dedup owns identical empties), so they are excluded up front by a
    codegen'd pre-filter. It counts non-empty tokens: Spark's trim
    strips only spaces, so a whitespace-only text like "\\t" splits into
    two empty words and would otherwise share the one shingle " ".
    """
    from named_architecture_entity_recognition_spark.session import (
        ensure_parallelism,
    )

    eligible = docs.filter(F.size(tokens(text_col)) >= F.lit(shingle_n))
    return signatures(ensure_parallelism(eligible)).select(
        "doc_id", *carry, F.posexplode(bands).alias(*_BUCKET)
    )


def _banded_pairs(banded: DataFrame) -> DataFrame:
    """The banded candidate self-join of minhash_lsh_pairs and
    simhash_pairs over ``_bands`` rows: docs sharing any band collide.
    Output (doc_a, doc_b, plus ``<c>_a``/``<c>_b`` for each carried
    column) with doc_a < doc_b, distinct on the pair: the exact
    candidate set.
    """
    carry = [c for c in banded.columns if c not in ("doc_id", *_BUCKET)]
    a = banded.alias("a")
    b = banded.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in _BUCKET]
    return (
        a.join(b, on + [F.col("a.doc_id") < F.col("b.doc_id")])
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, band_idx, band_key) MinHash-LSH buckets: the signature
    split into ``bands`` bands of n_hashes/bands rows, '|'-joined."""
    rows_per_band = n_hashes // bands
    return _bands(
        docs,
        text_col,
        shingle_n,
        lambda d: minhash_signatures_df(
            d, text_col=text_col, n_hashes=n_hashes, shingle_n=shingle_n
        ),
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.concat_ws(
                "|", F.slice("sig", b * rows_per_band + 1, rows_per_band)
            ),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH: docs sharing
    any bucket of minhash_bands. Output (doc_a, doc_b) with doc_a <
    doc_b, distinct. Shuffle = one groupBy-free self-equi-join on
    (band_idx, band_key).
    """
    return _banded_pairs(
        minhash_bands(docs, text_col, n_hashes, bands, shingle_n)
    )


def simhash64(col, shingle_n: int = 2) -> Column:
    """Full 64-bit SimHash as a 64-char '1'/'0' string, MSB first.

    Hash source = first 16 hex chars of md5(shingle) (64 bits, read as
    16 MSB-first nibbles — string position p is bit 63-p of the value).
    Signature bit = 1 iff at least half of the (distinct) shingles have
    that bit set. ONE aggregate pass with a 64-wide accumulator (same
    single-pass shape as minhash_signature); md5-portable, so the
    DuckDB oracle reproduces the string byte-for-byte.

    Higher-order functions are interpreted with NO common-subexpression
    elimination, so each stage binds its intermediate to a lambda
    variable (conv once per nibble, not once per bit) — inlining the
    conv into the 4 bit expressions measured ~4x slower.
    """
    sh = shingles(col, shingle_n)

    def bits64(s):
        nibbles = F.transform(
            F.split(F.substring(F.md5(s), 1, 16), ""),
            lambda c: F.conv(c, 16, 10).cast("int"),
        )
        return F.flatten(
            F.transform(
                nibbles,
                lambda d: F.array(
                    F.shiftright(d, 3).bitwiseAND(F.lit(1)),
                    F.shiftright(d, 2).bitwiseAND(F.lit(1)),
                    F.shiftright(d, 1).bitwiseAND(F.lit(1)),
                    d.bitwiseAND(F.lit(1)),
                ),
            )
        )

    counts = F.aggregate(
        sh,
        F.array_repeat(F.lit(0), 64),
        lambda acc, s: F.zip_with(acc, bits64(s), lambda a, b: a + b),
    )
    n = F.size(sh)
    return F.concat_ws(
        "",
        F.transform(
            counts, lambda c: F.when(c * 2 >= n, F.lit("1")).otherwise(F.lit("0"))
        ),
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    shingle_n: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Hamming-<=k candidate pairs over 64-bit SimHash signatures.

    Pigeonhole block bucketing: the 64-bit signature splits into
    (max_hamming+1) equal contiguous blocks; any pair within Hamming
    distance <= max_hamming must agree EXACTLY on at least one block,
    so an equi-join on (block_idx, block_bits) finds all such pairs
    with zero false negatives and no all-pairs scan — the same banded
    self-join as minhash_lsh_pairs (_bands' short-doc filter).
    Verification = exact Hamming distance on the joined signatures,
    confined to candidates.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b, distinct.
    """
    nb = max_hamming + 1
    if 64 % nb:
        raise ValueError(
            f"max_hamming+1 must divide 64 (got {max_hamming}); "
            "use 0, 1, 3, 7, 15, 31 or 63"
        )
    blk = 64 // nb
    blocks = _bands(
        docs,
        text_col,
        shingle_n,
        lambda d: simhash_signatures(
            d, text_col=text_col, shingle_n=shingle_n
        ),
        F.transform(
            F.sequence(F.lit(0), F.lit(nb - 1)),
            lambda b: F.col("sig").substr(b * blk + F.lit(1), F.lit(blk)),
        ),
        carry=("sig",),
    )
    cand = _banded_pairs(blocks)
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("sig_a", ""), F.split("sig_b", ""), lambda x, y: x != y
            ),
            lambda v: v,
        )
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _shingle_signatures(
    docs: DataFrame, text_col: str, shingle_n: int, sig_of, sig_type: str
) -> DataFrame:
    """(doc_id, sig) by one Arrow-batched mapInPandas: each text's
    distinct word shingles, tokenized like the ``shingles`` column, go
    through ``sig_of`` (a list of strings -> a ``sig_type`` value).

    Tokenization follows Spark, not Python: trim strips only spaces,
    and Java's ``\\s`` is ASCII whitespace, so a tab at either end or a
    no-break space between words changes the shingles as it does in
    the column."""
    from typing import Iterator

    import pandas as pd

    def sig(text: str):
        words = re.split(r"[ \t\n\x0b\f\r]+", (text or "").strip(" ").lower())
        n = max(len(words) - (shingle_n - 1), 0)
        shingles = (" ".join(words[i : i + shingle_n]) for i in range(n))
        return sig_of(list(dict.fromkeys(shingles)))

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sig": pdf[text_col].map(sig)}
            )

    doc_type = dict(docs.select("doc_id").dtypes)["doc_id"]
    return docs.select("doc_id", text_col).mapInPandas(
        process, schema=f"doc_id {doc_type}, sig {sig_type}"
    )


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", shingle_n: int = 2
) -> DataFrame:
    """(doc_id, sig) SimHash signatures: md5 digests unpacked to bit
    matrices and summed with numpy. BIT-IDENTICAL to the Catalyst
    simhash64 column, the DuckDB-oracle reference form (SimHash is pure
    integer arithmetic: per-bit counts + threshold, no float order
    anywhere) and ~200x faster than its interpreted 64-wide HOF
    accumulator; asserted identical in tests/test_dedup_similarity.py.
    """
    import numpy as np

    def sig_of(sh: list) -> str:
        if not sh:
            # expression semantics: 0 shingles -> every count 0 and
            # 2*0 >= n(=0) is true -> all-ones signature
            return "1" * 64
        bits = np.zeros(64, dtype=np.int64)
        for s in sh:
            d = hashlib.md5(s.encode()).digest()[:8]
            bits += np.unpackbits(np.frombuffer(d, dtype=np.uint8)).astype(
                np.int64
            )
        n = len(sh)
        return "".join("1" if 2 * b >= n else "0" for b in bits)

    return _shingle_signatures(docs, text_col, shingle_n, sig_of, "string")


def minhash_signatures_df(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, sig array<string>) MinHash signatures: hashlib md5 per
    (seed, shingle) and Python ``min`` over hex strings, which is
    byte-identical to the JVM's lexicographic string min (both compare
    ASCII hex), so the signatures equal the Catalyst minhash_signature
    column (the DuckDB-oracle reference form) without its interpreted
    HOF fold. Docs with no shingles get all-null signature entries, as
    in the column (array_min-of-empty semantics).
    """

    def sig_of(sh: list) -> list:
        if not sh:
            return [None] * n_hashes
        return [
            min(hashlib.md5((str(k) + s).encode()).hexdigest() for s in sh)
            for k in range(n_hashes)
        ]

    return _shingle_signatures(
        docs, text_col, shingle_n, sig_of, "array<string>"
    )


def dup_span_intervals(
    docs: DataFrame,
    window: int = 6,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-SPAN detection at W-token window granularity —
    the scalable Spark shape of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    doc-level dedups above miss the boilerplate/quotation spans that
    recur inside otherwise-unique documents, which is exactly what
    span-level dedup removes before LM training.

    Every length-``window`` token run is hashed (md5 of the
    space-joined lowercased tokens — engine-portable, DuckDB recomputes
    it byte-identically); a window whose hash occurs >= ``min_count``
    times CORPUS-WIDE (self-repeats inside one doc count, as in
    ExactSubstr) marks a duplicated span. Per doc, overlapping or
    adjacent duplicated windows are merged into maximal intervals.

    Returns (doc_id, span_start, span_end, n_windows): 1-indexed
    inclusive TOKEN interval bounds of each merged duplicated span and
    the number of duplicated windows it absorbed. Callers drop or mask
    ``tokens[span_start..span_end]`` to clean the corpus.

    Scale shape (100 TB): window explosion is a narrow per-row map
    (O(tokens) rows, no shuffle); the hash count is ONE partial-agg
    groupBy (map-side combined — a boilerplate window occurring 10^9
    times arrives at its reducer as per-partition partial counts, never
    raw rows); the join back re-attaches each window row exactly once
    (dup-hash side is distinct, so no fan-out; AQE broadcasts it when
    the dup vocabulary is small); interval merging is a per-doc
    hash agg + one O(n) ``aggregate`` fold over the sorted starts —
    pure Catalyst, no Window operator, no Python anywhere.
    """
    w = _words(text_col)
    n_win = F.greatest(F.size(w) - (window - 1), F.lit(0))
    idx = F.when(n_win > 0, F.sequence(F.lit(1), n_win)).otherwise(
        F.array().cast("array<int>")
    )
    win_hash = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(window)])
    )
    wins = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                idx, lambda i: F.struct(i.alias("i"), win_hash(i).alias("h"))
            )
        ).alias("win"),
    ).select("doc_id", "win.i", "win.h")

    dup_hashes = (
        wins.groupBy("h")
        .count()
        .filter(F.col("count") >= min_count)
        .select("h")
    )

    starts = (
        wins.join(dup_hashes, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("starts"))
    )

    # one-pass interval merge over the ascending starts: extend the last
    # interval while the next window overlaps or touches it (same-width
    # windows make the running end monotonic, so comparing against the
    # LAST interval is sufficient)
    acc0 = F.array().cast("array<struct<s:int,e:int,c:int>>")
    last = lambda a: F.element_at(a, -1)  # noqa: E731
    merged = F.aggregate(
        F.col("starts"),
        acc0,
        lambda acc, i: F.when(
            (F.size(acc) > 0) & (i <= last(acc)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        (i + window - 1).alias("e"),
                        (last(acc)["c"] + 1).alias("c"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        i.alias("s"),
                        (i + window - 1).alias("e"),
                        F.lit(1).alias("c"),
                    )
                ),
            )
        ),
    )
    return (
        starts.select("doc_id", F.explode(merged).alias("m"))
        .select(
            "doc_id",
            F.col("m.s").alias("span_start"),
            F.col("m.e").alias("span_end"),
            F.col("m.c").cast("long").alias("n_windows"),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    window: int = 6,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """The ACTION step of span-level dedup: rebuild each document's
    text with every duplicated interval (dup_span_intervals) cut out —
    ExactSubstr's "drop the duplicated substring, keep the remainder"
    (Lee et al. 2022 §3.2). Tokens are the lowercased whitespace tokens
    the detector hashed, re-joined with single spaces (span dedup is a
    pre-tokenization cleaning pass; original inter-token whitespace is
    not preserved, exactly like the reference implementation's
    byte-offset cuts re-joined at sequence level).

    Returns (doc_id, clean_text, n_tokens_removed). Docs with no
    duplicated spans pass through with n_tokens_removed = 0 (LEFT join
    — the intervals side only carries affected docs).

    Scale shape: dup_span_intervals' plan plus ONE per-doc interval
    aggregation and a LEFT equi-join back to the docs table on doc_id;
    the position filter is a per-row HOF over (tokens x intervals),
    and intervals per doc are few by construction (merged maximal)."""
    spans = (
        dup_span_intervals(docs, window, min_count, text_col)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias(
                "cuts"
            )
        )
    )
    w = _words(text_col)
    out = docs.join(spans, "doc_id", "left")
    cuts = F.coalesce(
        F.col("cuts"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        w,
        lambda t, i: ~F.exists(
            cuts,
            lambda c: (i + 1 >= c["span_start"]) & (i + 1 <= c["span_end"]),
        ),
    )
    return out.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size(w) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )
