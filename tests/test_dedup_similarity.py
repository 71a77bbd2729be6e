"""Dedup (exact/minhash/simhash/spans) and similarity-search operators."""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signature,
    shingles,
    simhash64,
)
from named_architecture_entity_recognition_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " with a tiny suffix"),  # near dup
        (4, "completely different content about spark shuffle partitions"),
        (5, "another unrelated text mentioning window functions and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(shingles("text", 3).alias("s")).head().s
    assert out == ["a b c", "b c d"]


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs)
    dups = groups.filter(F.col("n_dups") > 1).collect()
    assert len(dups) == 1 and dups[0].n_dups == 2 and dups[0].keep_id == 1


def test_minhash_identical_signatures(docs):
    sigs = {
        r.doc_id: tuple(r.sig)
        for r in docs.select(
            "doc_id", minhash_signature(F.col("text"), 8).alias("sig")
        ).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_lsh_finds_near_dups(docs):
    pairs = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, n_hashes=8, bands=4).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup shares some bands
    assert (4, 5) not in pairs


def test_simhash_similar_docs_close(docs):
    sh = {r.doc_id: r.bits for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("bits")
    ).collect()}
    def hamming(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert all(len(bits) == 64 for bits in sh.values())
    assert hamming(sh[1], sh[2]) == 0
    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])


def test_simhash64_matches_python_reference(spark):
    """Bit-exactness of the Catalyst expression vs a plain-Python
    SimHash over the same md5 source (pins layout: string position p =
    bit 63-p of the first 16 md5 hex chars)."""
    import hashlib

    texts = ["spark merge scan window", "batch hash sort agg table row"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.bits
        for r in df.select(
            "doc_id", simhash64(F.col("text"), 2).alias("bits")
        ).collect()
    }
    for i, t in enumerate(texts):
        ws = t.lower().split()
        sh = list(dict.fromkeys(
            " ".join(ws[k:k + 2]) for k in range(len(ws) - 1)
        ))
        counts = [0] * 64
        for s in sh:
            v = int(hashlib.md5(s.encode()).hexdigest()[:16], 16)
            for p in range(64):
                counts[p] += (v >> (63 - p)) & 1
        want = "".join(
            "1" if 2 * c >= len(sh) else "0" for c in counts
        )
        assert got[i] == want


def test_simhash_pairs_pigeonhole_complete(spark):
    """simhash_pairs must find EVERY pair within max_hamming (pigeonhole
    guarantee: k+1 blocks -> at least one block equal), verified against
    a brute-force all-pairs Hamming scan."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        simhash_pairs,
    )

    base = " ".join(f"w{i}" for i in range(80))  # 79 distinct shingles
    texts = [base]
    # successive small edits => a spread of Hamming distances (each word
    # edit flips only ~2/79 shingles, so simhash moves a few bits)
    for k in range(1, 12):
        ws = base.split()
        for j in range(k):
            ws[5 + 6 * j] = f"edit{k}_{j}"
        texts.append(" ".join(ws))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sig = {
        r.doc_id: r.sig
        for r in df.select(
            "doc_id", simhash64(F.col("text"), 2).alias("sig")
        ).collect()
    }
    def hamming(a, b):
        return sum(x != y for x, y in zip(a, b))
    for max_h in (3, 7):
        want = {
            (a, b, hamming(sig[a], sig[b]))
            for a in sig for b in sig
            if a < b and hamming(sig[a], sig[b]) <= max_h
        }
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(df, max_hamming=max_h).collect()
        }
        assert got == want
        assert want  # the fixture must actually produce close pairs


def test_simhash_pairs_rejects_bad_block_count(spark):
    from named_architecture_entity_recognition_spark.operators.dedup import (
        simhash_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_pairs(df, max_hamming=4)  # 5 does not divide 64


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(40):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # vec 100 = near-copy of vec 0
    base = np.array(rows[0][1])
    near = base + 0.01 * rng.standard_normal(16)
    rows.append((100, [float(x) for x in near / np.linalg.norm(near)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, embeddings):
    qs = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(embeddings, qs, k=3).orderBy("rank").collect()
    assert out[0].neighbor_id == 0 and out[0].score == pytest.approx(1.0, abs=1e-4)
    assert out[1].neighbor_id == 100  # the planted near-duplicate
    assert out[0].rank == 1 and out[2].rank == 3


def test_cosine_topk_lsh_recalls_planted_neighbor(spark, embeddings):
    qs = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_lsh(embeddings, qs, k=3, n_planes=4).collect()
    ids = {r.neighbor_id for r in out}
    # the near-copy lands in the same hyperplane bucket as the query
    assert 0 in ids and 100 in ids


def test_cosine_topk_ivf_recalls_planted_neighbor(spark, embeddings):
    from named_architecture_entity_recognition_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    qs = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_ivf(
        embeddings, qs, k=3, n_centroids=8, nprobe=3
    ).orderBy("rank").collect()
    # query vec 0 IS centroid 0, so its own list is always probed; the
    # near-copy 100 assigns to the same nearest centroid
    ids = [r.neighbor_id for r in out]
    assert ids[0] == 0 and 100 in ids


def test_simhash_numpy_kernel_identical_to_expression(spark):
    """SimHash is integer arithmetic, so the vectorized numpy kernel
    must be BIT-identical to the Catalyst expression — including the
    empty-shingle all-ones edge and Spark's whitespace rules (trim
    strips only spaces; a no-break space is not a separator)."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(80)
    edge = spark.createDataFrame(
        [(9001, "oneword"), (9002, ""), (9003, "  two words  "),
         (9004, "\tlead tab words"), (9005, "trailing newline words\n"),
         (9006, "no\u00a0break space here"), (9007, " \t ")],
        "doc_id bigint, text string",
    )
    both = docs.unionByName(edge)
    a = {
        r.doc_id: r.sig
        for r in both.select("doc_id", simhash64(F.col("text"), 2).alias("sig")).collect()
    }
    b = {r.doc_id: r.sig for r in simhash_signatures(both).collect()}
    assert a == b
    assert a[9001] == "1" * 64 and a[9002] == "1" * 64  # <2 words


def test_shingle_consumers_survive_short_docs(spark):
    """Docs with fewer words than the shingle size are no-ops, not task
    failures (sequence(1,0) counts DOWN in Spark — regression guard)."""
    docs = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "a b"), (4, "x y z long enough here ok")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, n_hashes=4, bands=2, shingle_n=3)
    assert pairs.count() == 0  # nothing shares a 3-shingle; no crash


def test_simhash_pairs_excludes_degenerate_empty_docs(spark):
    from named_architecture_entity_recognition_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "one"), (4, "a b c d e"), (5, "a b c d e")],
        "doc_id long, text string",
    )
    out = simhash_pairs(docs, max_hamming=3, shingle_n=2).collect()
    # the real dup pair survives; empty/1-word docs never pair
    assert [(r.doc_a, r.doc_b, r.hamming) for r in out] == [(4, 5, 0)]


def test_banded_pairs_exclude_whitespace_only_docs(spark):
    """A whitespace-only text has no words. Spark's trim strips only
    spaces, so "\t" splits into two empty words whose one 2-shingle is
    " "; counted that way every such doc passed the short-doc filter
    and they all paired in one degenerate bucket."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "\t"), (2, " \t "), (3, "\t\t"), (4, "\t"), (5, "a b c d e"),
         (6, "a b c d e")],
        "doc_id long, text string",
    )
    sim = simhash_pairs(docs, max_hamming=3, shingle_n=2).collect()
    assert [(r.doc_a, r.doc_b) for r in sim] == [(5, 6)]
    lsh = minhash_lsh_pairs(docs, n_hashes=4, bands=2, shingle_n=2)
    assert [(r.doc_a, r.doc_b) for r in lsh.collect()] == [(5, 6)]


def test_ann_operators_survive_zero_vectors(spark):
    """A zero-norm embedding anywhere (corpus, query, centroid) defines
    cosine 0.0 instead of killing the job with an ANSI DIVIDE_BY_ZERO —
    guaranteed to appear somewhere in 10^12 rows."""
    from named_architecture_entity_recognition_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 0.0]), (3, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    qz = emb.filter("vec_id = 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, qz, k=3).orderBy("rank").collect()
    assert all(r.score == 0.0 for r in out)  # no direction -> sim 0 to all
    # IVF on the degenerate rows. One probe: the zero query ties on
    # every centroid and probes the highest cid, 1 (the zero vector
    # itself), whose list holds only the zero vector
    a = cosine_topk_ivf(emb, qz, k=3, n_centroids=2, nprobe=1).collect()
    assert [(r.neighbor_id, r.score) for r in a] == [(2, 0.0)]


def test_minhash_python_kernel_identical_to_expression(spark):
    """Python min over md5 hex == JVM lexicographic string min, so the
    vectorized kernel must produce identical signatures — including the
    all-null empty-shingle rows and Spark's whitespace rules."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        minhash_signatures_df,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(60)
    edge = spark.createDataFrame(
        [(9001, "one two"), (9002, ""), (9003, "a b c d"),
         (9004, "\tthe quick brown fox"), (9005, "the quick brown fox\n"),
         (9006, "the quick\u00a0brown fox jumps"), (9007, "em\u2003space a b c")],
        "doc_id bigint, text string",
    )
    both = docs.unionByName(edge)
    a = {r.doc_id: tuple(r.sig) for r in both.select(
        "doc_id", minhash_signature(F.col("text"), 8, 3).alias("sig")).collect()}
    b = {r.doc_id: tuple(r.sig) for r in minhash_signatures_df(both).collect()}
    assert a == b
    assert a[9002] == (None,) * 8  # < 3 words -> all-null signature


def test_hyperplane_python_kernel_identical_to_expression(spark, embeddings):
    """The Python sequential fold reproduces the Catalyst aggregate's
    sign bits exactly (same IEEE addition order, same md5-derived plane
    constants) — buckets, and therefore LSH results, are identical,
    including on zero, signed-zero, short and empty vectors."""
    from named_architecture_entity_recognition_spark.operators.similarity import (
        _as_double,
        hyperplane_bucket,
        hyperplane_buckets_df,
    )

    edge = spark.createDataFrame(
        [(901, [0.0] * 16), (902, [-0.0] * 16), (903, [1.0, -2.0, 0.5]), (904, [])],
        "vec_id long, embedding array<float>",
    )
    base = _as_double(
        embeddings.select("vec_id", "embedding").unionByName(edge), "embedding"
    )
    for planes in (4, 8):
        a = {r.vec_id: r.bucket for r in base.withColumn(
            "bucket", hyperplane_bucket(F.col("embedding"), planes)).collect()}
        b = {r.vec_id: r.bucket for r in
             hyperplane_buckets_df(base, n_planes=planes).collect()}
        assert a == b
        assert len(set(a.values())) > 2  # the planes split the corpus


def test_simhash_pairs_oracle_drops_short_docs(spark):
    """The q_simhash_pairs DuckDB oracle bands only the docs
    simhash_pairs bands: texts with fewer than shingle_n=2 tokens all
    share the all-ones signature, and must not pair on it."""
    import duckdb

    import __spark_entry__ as entrymod
    from named_architecture_entity_recognition_spark.operators.dedup import (
        simhash_pairs,
    )

    rows = [(1, ""), (2, ""), (3, "one"), (4, "a b c d e"), (5, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        tuple(r)
        for r in simhash_pairs(df, max_hamming=15, shingle_n=2).collect()
    }
    assert got == {(4, 5, 0)}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = entrymod.oracle_sql()["q_simhash_pairs"]
    assert set(con.execute(oracle).fetchall()) == got


def test_int8_quantization_codes_bounded_and_invertible(spark, embeddings):
    """Codes live in [0, 255]; dequantization error per dimension is
    bounded by half a quantization step ((mx-mn)/255/2 plus float
    slack)."""
    from named_architecture_entity_recognition_spark.operators.similarity import (
        quantize_int8,
    )

    qz = quantize_int8(embeddings).collect()
    assert qz, "empty quantization output"
    for r in qz:
        assert all(0 <= c <= 255 for c in r.codes)
    row = qz[0]
    raw = {r.vec_id: r.embedding for r in embeddings.collect()}
    for r in qz:
        for i, c in enumerate(r.codes):
            step = (r.mx[i] - r.mn[i]) / 255.0
            xhat = r.mn[i] + c * step
            assert abs(xhat - raw[r.vec_id][i]) <= step / 2 + 1e-9


def test_int8_topk_recall_vs_exact(spark, embeddings):
    """Asymmetric 8-bit scoring must agree with exact top-k on at
    least 4 of 5 neighbors per query on this corpus (SQ8's typical
    recall is far higher; the floor just catches regressions), and
    rank 1 (the planted self-match) must be identical."""
    from named_architecture_entity_recognition_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_int8,
    )

    from pyspark.sql import functions as F

    qs = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(embeddings, qs, k=5)
    approx = cosine_topk_int8(embeddings, qs, k=5)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.query_id, {})[r.rank] = r.neighbor_id
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.query_id, {})[r.rank] = r.neighbor_id
    assert set(ex) == set(ap)
    for qid in ex:
        assert ap[qid][1] == ex[qid][1], qid  # self-match survives
        overlap = set(ex[qid].values()) & set(ap[qid].values())
        assert len(overlap) >= 4, (qid, ex[qid], ap[qid])


def test_int8_topk_no_python_in_plan(spark, embeddings):
    from named_architecture_entity_recognition_spark.operators.similarity import (
        cosine_topk_int8,
    )

    from pyspark.sql import functions as F

    qs = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_int8(embeddings, qs, k=3)
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in simple, simple


def test_dup_span_intervals_merges_and_counts(spark):
    """ExactSubstr-shape span dedup: shared boilerplate is found in
    every doc containing it, overlapping windows merge into one maximal
    interval, a self-repeating doc is fully covered, and clean/short
    docs emit nothing."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        dup_span_intervals,
    )

    boiler = "subscribe to our newsletter for updates every week"  # 8 tokens
    docs = spark.createDataFrame(
        [
            ("d1", f"alpha beta {boiler} gamma delta"),
            ("d2", f"one two three {boiler} four five"),
            ("d3", "totally unique text with no duplicated runs here at all"),
            ("d4", "x " * 20),  # 20 identical tokens: self-duplicating
            ("d5", "short doc"),
        ],
        "doc_id string, text string",
    )
    rows = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in dup_span_intervals(docs, window=6).collect()
    }
    # d1: boiler occupies tokens 3..10 -> windows start at 3,4,5 (all
    # inside the shared 8-token run), merged to [3, 10]
    assert rows["d1"] == (3, 10, 3)
    assert rows["d2"] == (4, 11, 3)
    # d4: every window duplicated (all-identical tokens) -> one full span
    assert rows["d4"] == (1, 20, 15)
    assert "d3" not in rows and "d5" not in rows


def test_dup_span_intervals_splits_disjoint_runs(spark):
    """Two duplicated runs separated by enough unique tokens stay two
    intervals; runs closer than a window width merge (overlap-or-
    adjacent rule)."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        dup_span_intervals,
    )

    run_a = "aa bb cc"
    run_b = "dd ee ff"
    docs = spark.createDataFrame(
        [
            # far apart: u1..u5 unique spacers -> two intervals
            ("far", f"{run_a} u1 u2 u3 u4 u5 {run_b}"),
            ("src", f"{run_a} zz1 zz2 zz3 zz4 zz5 zz6 zz7 {run_b}"),
        ],
        "doc_id string, text string",
    )
    out = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in dup_span_intervals(docs, window=3).collect()
    )
    assert ("far", 1, 3) in out and ("far", 9, 11) in out
    # src: run_a = tokens 1-3, 7 spacers, run_b = tokens 11-13
    assert ("src", 1, 3) in out and ("src", 11, 13) in out
    # no interval spans the unique middle of either doc
    assert all(not (s <= 5 <= e) for (_, s, e) in out)


def test_dup_span_intervals_plan_is_pure_catalyst(spark):
    """No Python evaluation and no Window operator anywhere in the
    plan: narrow window-hash map, one partial-agg count, equi-join,
    per-doc hash agg + fold."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        dup_span_intervals,
    )

    docs = spark.createDataFrame(
        [("a", "w1 w2 w3 w4")], "doc_id string, text string"
    )
    out = dup_span_intervals(docs, window=3)
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "Window"):
        assert marker not in simple, simple


def test_remove_dup_spans_cuts_exactly_the_intervals(spark):
    """clean_text == original tokens minus the detected intervals, in
    order; clean docs pass through untouched (n_tokens_removed = 0)."""
    from named_architecture_entity_recognition_spark.operators.dedup import (
        dup_span_intervals,
        remove_dup_spans,
    )

    boiler = "subscribe to our newsletter for updates every week"
    docs = spark.createDataFrame(
        [
            ("d1", f"alpha beta {boiler} gamma delta"),
            ("d2", f"one two three {boiler} four five"),
            ("d3", "totally unique text with no duplicated runs here"),
        ],
        "doc_id string, text string",
    )
    spans = {}
    for r in dup_span_intervals(docs, window=6).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_removed)
        for r in remove_dup_spans(docs, window=6).collect()
    }
    for doc_id, text in [(r.doc_id, r.text) for r in docs.collect()]:
        toks = text.strip().lower().split()
        cuts = spans.get(doc_id, [])
        kept = [
            t for i, t in enumerate(toks, start=1)
            if not any(s <= i <= e for s, e in cuts)
        ]
        assert got[doc_id] == (" ".join(kept), len(toks) - len(kept)), doc_id
    assert got["d3"][1] == 0 and got["d3"][0] == "totally unique text with no duplicated runs here"


def test_dup_span_intervals_matches_bruteforce_on_random_corpus(spark):
    """Randomized differential test (seeded): on a 150-doc corpus with
    a small vocabulary (lots of accidental window collisions), the
    Catalyst plan's intervals equal a plain-Python brute force —
    every duplicated window start covered, interval bounds and window
    counts identical."""
    import numpy as np

    from named_architecture_entity_recognition_spark.operators.dedup import (
        dup_span_intervals,
    )

    rng = np.random.RandomState(1234)
    W = 4
    vocab = [f"t{k}" for k in range(12)]  # tiny vocab -> many dups
    texts = {}
    for d in range(150):
        n = int(rng.randint(0, 30))  # includes docs shorter than W
        texts[f"d{d:03d}"] = " ".join(
            vocab[int(i)] for i in rng.randint(0, len(vocab), size=n)
        )
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id string, text string"
    )

    # brute force: global window counts, then per-doc merged intervals
    from collections import Counter

    counts = Counter()
    for t in texts.values():
        w = t.split()
        for i in range(len(w) - W + 1):
            counts[" ".join(w[i:i + W])] += 1
    expected = set()
    for doc_id, t in texts.items():
        w = t.split()
        starts = [
            i + 1
            for i in range(len(w) - W + 1)
            if counts[" ".join(w[i:i + W])] >= 2
        ]
        cur = None
        for i in starts:
            if cur and i <= cur[1] + 1:
                cur = (cur[0], i + W - 1, cur[2] + 1)
            else:
                if cur:
                    expected.add((doc_id, *cur))
                cur = (i, i + W - 1, 1)
        if cur:
            expected.add((doc_id, *cur))

    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in dup_span_intervals(docs, window=W).collect()
    }
    assert got == expected
    assert len(expected) > 50  # the fixture must be dup-dense
