"""Corpus-management operators (operators/corpus.py): duplicate
clustering, deterministic splits, sequence packing, contamination."""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.corpus import (
    contamination,
    dup_clusters,
    hash_split,
    pack_sequences,
)


def test_dup_clusters_numeric_ids_min_representative(spark):
    """Cluster representative must be the NUMERIC min doc_id — string
    ordering would pick 10 over 2 ("10" < "2")."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(2, base), (10, base), (7, base), (99, "totally different words here that share nothing at all")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in dup_clusters(docs, n_hashes=4, bands=2).collect()}
    assert rows[2].cluster_id == 2 and rows[2].keep
    assert rows[10].cluster_id == 2 and not rows[10].keep
    assert rows[7].cluster_id == 2 and not rows[7].keep
    # no near-dup -> singleton cluster, kept
    assert rows[99].cluster_id == 99 and rows[99].keep


def test_dup_clusters_transitive(spark):
    """A~B and B~C (but A!~C under one band) still land in one cluster
    via connected components."""
    a = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, a)], "doc_id bigint, text string"
    )
    out = dup_clusters(docs, n_hashes=4, bands=2).collect()
    assert {r.cluster_id for r in out} == {1}
    assert sorted(r.doc_id for r in out if r.keep) == [1]


def test_dup_clusters_mixed_sign_ids(spark):
    """Negative numeric ids round-trip through the string CC labels and
    keep their numeric order: the representative of {-5, -3, 4} is -5,
    and an unrelated doc stays a singleton."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(-3, base), (4, base), (-5, base),
         (7, "totally different words here that share nothing at all"),
         (-1, "short")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in dup_clusters(docs, n_hashes=4, bands=2).collect()}
    assert rows == {
        -5: (-5, True), -3: (-5, False), 4: (-5, False),
        7: (7, True), -1: (-1, True),
    }


def _minhash_buckets(docs, n_hashes, bands, shingle_n=3):
    """{(band, key): [doc_id]} by hashlib MinHash: per seed k, the min
    md5 hex of str(k) + shingle over a doc's distinct word shingles;
    docs with fewer than shingle_n words are not banded."""
    import hashlib

    rows = n_hashes // bands
    buckets: dict = {}
    for doc_id, text in docs:
        words = text.split()
        if len(words) < shingle_n:
            continue
        sh = {" ".join(words[i:i + shingle_n])
              for i in range(len(words) - shingle_n + 1)}
        sig = [min(hashlib.md5((str(k) + s).encode()).hexdigest()
                   for s in sh) for k in range(n_hashes)]
        for b in range(bands):
            key = "|".join(sig[b * rows:(b + 1) * rows])
            buckets.setdefault((b, key), []).append(doc_id)
    return buckets


def _bfs_clusters(ids, edges):
    """{doc_id: min doc_id of its component} by BFS over ``edges``."""
    adj = {i: [] for i in ids}
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    out: dict = {}
    for start in sorted(ids):
        if start in out:
            continue
        out[start] = start
        todo = [start]
        while todo:
            for nxt in adj[todo.pop()]:
                if nxt not in out:
                    out[nxt] = start
                    todo.append(nxt)
    return out


def test_dup_clusters_whale_bucket_exact(spark):
    """A band bucket of more than 64 docs: dup_clusters equals a BFS
    over every bucket's full clique."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    template = [rng.choice(vocab) for _ in range(40)]
    docs = []
    for i in range(150):
        words = list(template)
        words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((i, " ".join(words)))
    for i in range(150, 300):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(12))))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    buckets = _minhash_buckets(docs, n_hashes=4, bands=2)
    assert max(len(m) for m in buckets.values()) > 64
    clique = [e for m in buckets.values()
              for e in itertools.combinations(m, 2)]
    ids = [i for i, _ in docs]
    want = _bfs_clusters(ids, clique)

    got = {r.doc_id: r.cluster_id
           for r in dup_clusters(df, n_hashes=4, bands=2).collect()}
    assert got == want


def test_hash_split_deterministic_and_stable_under_backfill(spark):
    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in hash_split(docs).collect()}
    s2 = {r.doc_id: r.split for r in hash_split(docs).collect()}
    assert s1 == s2
    # adding new docs never moves existing docs between splits
    bigger = spark.range(2000).withColumnRenamed("id", "doc_id")
    s3 = {r.doc_id: r.split for r in hash_split(bigger).collect()}
    assert all(s3[k] == v for k, v in s1.items())
    # roughly the right proportions (md5 uniformity; wide tolerance)
    n_train = sum(1 for v in s1.values() if v == "train")
    assert 700 <= n_train <= 900
    assert set(s1.values()) == {"train", "val", "test"}


def test_hash_split_salt_reshuffles(spark):
    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in hash_split(docs, salt="v1").collect()}
    s2 = {r.doc_id: r.split for r in hash_split(docs, salt="v2").collect()}
    assert s1 != s2  # astronomically unlikely to coincide


def test_pack_sequences_matches_python_spec(spark):
    """pack_no == floor(exclusive-cumsum / budget), exactly; pack totals
    never exceed budget + the straddling doc's size."""
    sizes = [10 + i % 7 for i in range(100)]
    docs = spark.createDataFrame(
        [(i, "src", "tok " * sizes[i]) for i in range(100)],
        "doc_id bigint, source string, text string",
    )
    out = {r.doc_id: r for r in pack_sequences(docs, budget_tokens=50).collect()}
    cum = 0
    packs: dict = {}
    for i, sz in enumerate(sizes):
        expect = cum // 50
        assert out[i].pack_no == expect, (i, out[i].pack_no, expect)
        assert out[i].n_tokens == sz
        packs[expect] = packs.get(expect, 0) + sz
        cum += sz
    max_doc = max(sizes)
    assert all(total < 50 + max_doc for total in packs.values())
    # no doc here exceeds the budget, so pack numbers are dense from 0
    assert sorted(packs) == list(range(max(packs) + 1))


def test_pack_sequences_partition_isolation(spark):
    """Packing never mixes partition keys; ordering inside a key is by
    doc_id."""
    docs = spark.createDataFrame(
        [(1, "a", "x " * 30), (2, "b", "y " * 30), (3, "a", "z " * 30)],
        "doc_id bigint, source string, text string",
    )
    out = {(r.part, r.doc_id): r for r in pack_sequences(docs, 40).collect()}
    assert out[("a", 1)].pack_no == 0
    assert out[("a", 3)].pack_no == 0  # 30 tokens before it < 40
    assert out[("b", 2)].pack_no == 0
    assert out[("a", 1)].pack_id == "a#0" and out[("b", 2)].pack_id == "b#0"


def test_contamination_asymmetric_full_containment(spark):
    """A long train doc containing an eval doc verbatim scores 1.0;
    Jaccard of the same pair would be far below 1."""
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon and a long "
                "suffix with many extra tokens continuing on and on"),
            (2, "nothing shared at all in this one whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    out = contamination(tr, ev, shingle_n=3, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.eval_id, r.train_id) == (100, 1)
    assert r.containment == pytest.approx(1.0)


# ------------------------------------------------------- property tests
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=40),
    parts=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=40),
    budget=st.integers(5, 100),
)
def test_pack_sequences_property_matches_python(spark, sizes, parts, budget):
    """For arbitrary doc sizes/partitions/budgets, pack_no equals the
    Python floor(exclusive-cumsum / budget) within each partition key."""
    n = min(len(sizes), len(parts))
    rows = [(i, parts[i], "t " * sizes[i]) for i in range(n)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    got = {r.doc_id: r.pack_no for r in pack_sequences(docs, budget).collect()}
    cums: dict = {}
    for i in range(n):
        cum = cums.get(parts[i], 0)
        assert got[i] == cum // budget, (i, got[i], cum, budget)
        cums[parts[i]] = cum + sizes[i]


@settings(max_examples=10, deadline=None)
@given(n=st.integers(1, 300), salt=st.text("abcdef", min_size=1, max_size=8))
def test_hash_split_partitions_every_doc_exactly_once(spark, n, salt):
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    out = hash_split(docs, salt=salt).collect()
    assert len(out) == n
    assert all(r.split in ("train", "val", "test") for r in out)


def test_prepare_corpus_funnel_stages_and_precedence(spark):
    """Every input doc gets exactly one status; stage precedence is
    lang > quality > exact_dup > near_dup > kept."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        prepare_corpus,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away to the hills where the other animals are waiting"
    )
    rows = [
        (1, good),                                   # kept (cluster rep)
        (2, good + " "),                             # exact dup of 1 (whitespace-normalized)
        (3, good + " with one tiny extra suffix"),   # near dup of 1
        (4, "der hund und die katze und das haus und der baum und die "
            "strasse und das auto und der garten ist hier"),  # lang
        (5, "the tiny doc"),                         # quality (en, too short)
        (6, "a completely different english text about the weather and "
            "the seasons that is long enough to pass all the quality "
            "bands easily with many common words in it"),  # kept
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in prepare_corpus(docs, n_hashes=4, bands=2).collect()}
    assert len(out) == 6  # one row per input doc
    assert out[1].status == "kept" and out[1].split in ("train", "val", "test")
    assert out[2].status == "exact_dup" and out[2].split is None
    assert out[3].status == "near_dup"
    assert out[4].status == "lang"
    assert out[5].status == "quality"
    assert out[6].status == "kept"


def test_argument_guards(spark):
    import pytest as _pytest

    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError, match="weights"):
        hash_split(docs, weights={})
    with _pytest.raises(ValueError, match="weights"):
        hash_split(docs, weights={"a": -1.0, "b": 2.0})
    d = docs.withColumn("source", F.lit("s")).withColumn("text", F.lit("x y"))
    with _pytest.raises(ValueError, match="budget_tokens"):
        pack_sequences(d, 0)


def test_funnel_composes_with_packing(spark):
    """prepare_corpus 'kept' docs feed pack_sequences directly: the
    composed pipeline covers every kept doc exactly once."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        prepare_corpus,
    )

    docs = spark.createDataFrame(
        [
            (i, "srcA" if i % 2 else "srcB",
             f"the document number {i} talks about the weather and the "
             f"seasons with plenty of ordinary english words to pass "
             f"quality checks easily {i}")
            for i in range(20)
        ],
        "doc_id bigint, source string, text string",
    )
    verdicts = prepare_corpus(docs.select("doc_id", "text"))
    kept = verdicts.filter("status = 'kept'").select("doc_id")
    packed = pack_sequences(docs.join(kept, "doc_id"), budget_tokens=64)
    assert packed.count() == kept.count()
    assert packed.select("doc_id").distinct().count() == kept.count()


def test_sample_mixture_rates_and_nesting(spark):
    """rate 1.0 keeps everything, 0.0 keeps nothing, and samples are
    NESTED: the keep-set at rate r is a subset of the keep-set at any
    r' > r (retuning mixture weights never resamples kept data)."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        sample_mixture,
    )

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    keep_all = sample_mixture(docs, {"src0": 1.0}, default_rate=1.0)
    assert keep_all.count() == 400
    keep_none = sample_mixture(docs, {"src0": 0.0}, default_rate=0.0)
    assert keep_none.count() == 0
    lo = {r.doc_id for r in sample_mixture(docs, {"src1": 0.3}).collect()}
    hi = {r.doc_id for r in sample_mixture(docs, {"src1": 0.7}).collect()}
    assert lo <= hi
    # per-source: only src1 survives (others default 0.0), roughly 30%/70%
    assert 0.15 < len(lo) / 133 < 0.45 and 0.55 < len(hi) / 133 < 0.85
    # backfill stability: adding docs never flips old verdicts
    bigger = spark.range(800).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    lo2 = {
        r.doc_id
        for r in sample_mixture(bigger, {"src1": 0.3}).collect()
        if r.doc_id < 400
    }
    assert lo2 == lo


def test_sample_mixture_rejects_bad_rates(spark):
    from named_architecture_entity_recognition_spark.operators.corpus import (
        sample_mixture,
    )

    docs = spark.range(5).withColumnRenamed("id", "doc_id")
    for bad in ({}, {"a": 1.5}, {"a": -0.1}):
        with pytest.raises(ValueError):
            sample_mixture(docs, bad)
    with pytest.raises(ValueError):
        sample_mixture(docs, {"a": 0.5}, default_rate=2.0)


def test_repetition_stats_known_values(spark):
    """Hand-computed fractions, the short-doc gate, and the zero-gram
    edge (empty / single-word docs score 0.0 everywhere)."""
    from named_architecture_entity_recognition_spark.operators.textstats import (
        repetition_stats,
    )

    loop = " ".join(["spam ham"] * 12)  # 24 words of 'spam ham spam ham ...'
    prose = " ".join(f"w{i}" for i in range(30))  # 30 distinct words
    docs = spark.createDataFrame(
        [(1, loop), (2, prose), (3, "x"), (4, ""), (5, "a b a b")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    # loop: 23 2-grams, 'spam ham' x12 -> 12/23; 20 5-grams, 2 distinct -> 18/20
    assert rows[1].top2gram_frac == round(12 / 23, 6)
    assert rows[1].dup5gram_frac == round(18 / 20, 6)
    assert rows[1].repetitive
    # distinct prose: top2 = 1/29, no dup 5-grams, not repetitive
    assert rows[2].top2gram_frac == round(1 / 29, 6)
    assert rows[2].dup5gram_frac == 0.0
    assert not rows[2].repetitive
    # degenerate docs: all zero, never flagged
    for d in (3, 4):
        assert rows[d].top2gram_frac == 0.0 and not rows[d].repetitive
    # 4 words: high fractions but UNDER min_words -> gate suppresses flag
    assert rows[5].top2gram_frac > 0.2 and not rows[5].repetitive


def test_repetition_stats_matches_python_reference(spark):
    """Run-length aggregate == brute-force Counter on varied docs."""
    from collections import Counter

    from named_architecture_entity_recognition_spark.operators.textstats import (
        repetition_stats,
    )

    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(25)
    ]

    def brute(text, n):
        ws = [w for w in text.lower().split() if w]
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        if not grams:
            return 0.0, 0.0
        c = Counter(grams)
        return (
            round(max(c.values()) / len(grams), 6),
            round((len(grams) - len(c)) / len(grams), 6),
        )

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in repetition_stats(sdf).collect()}
    for doc_id, text in docs:
        top2, _ = brute(text, 2)
        top3, _ = brute(text, 3)
        _, dup5 = brute(text, 5)
        assert rows[doc_id].top2gram_frac == top2, (doc_id, text)
        assert rows[doc_id].top3gram_frac == top3, (doc_id, text)
        assert rows[doc_id].dup5gram_frac == dup5, (doc_id, text)


def test_vocab_topk_counts_and_tiebreak(spark):
    from named_architecture_entity_recognition_spark.operators.textstats import (
        vocab_topk,
    )

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        "doc_id long, text string",
    )
    rows = vocab_topk(docs, k=2).collect()
    assert [(r.token, r.n_docs, r.n_occurrences) for r in rows] == [
        ("apple", 2, 3),
        ("banana", 2, 2),
    ]
    # tie on count -> token asc decides the cut deterministically
    tied = spark.createDataFrame(
        [(1, "zeta alpha beta")], "doc_id long, text string"
    )
    assert [r.token for r in vocab_topk(tied, k=2).collect()] == [
        "alpha",
        "beta",
    ]


def test_redact_pii_scrubs_and_counts(spark):
    from named_architecture_entity_recognition_spark.operators.textstats import (
        redact_pii,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-mail.co.uk and 192.168.1.7 call +44 (0)20-7946 0958 done"),
            (2, "no pii here at all"),
            (3, "two mails x@y.io y@z.org one ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert rows[1].n_email == 1 and rows[1].n_ipv4 == 1 and rows[1].n_phone == 1
    assert "<EMAIL>" in rows[1].text and "<IP>" in rows[1].text
    assert "<PHONE>" in rows[1].text
    assert "a.b+c@x-mail.co.uk" not in rows[1].text
    assert rows[2].text == "no pii here at all"
    assert rows[2].n_email == rows[2].n_ipv4 == rows[2].n_phone == 0
    assert rows[3].n_email == 2 and rows[3].n_ipv4 == 1 and rows[3].n_phone == 0


def test_collocations_pmi_matches_hand_computation(spark):
    """'new york' always co-occurs; 'the cat' co-occurs at chance.
    PMI of the bound pair must be ln(M/n * (N/c1) * (N/c2) ...) —
    recompute exactly in python and compare."""
    import math

    from named_architecture_entity_recognition_spark.operators.textstats import (
        collocations,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", "new york " * 3 + "the cat sat on the mat") for i in range(4)],
        "doc_id string, text string",
    )
    got = {r.bigram: (r.n, r.pmi) for r in collocations(docs, k=20, min_count=4).collect()}

    toks = ("new york " * 3 + "the cat sat on the mat").split()
    n_doc = len(toks)
    bigs = list(zip(toks, toks[1:]))
    N, M = 4.0 * n_doc, 4.0 * len(bigs)
    from collections import Counter

    cu, cb = Counter(toks), Counter(bigs)
    exp = {}
    for (w1, w2), c in cb.items():
        n = 4 * c
        if n >= 4:
            pmi = math.log((n / M) / ((4 * cu[w1] / N) * (4 * cu[w2] / N)))
            exp[f"{w1} {w2}"] = (n, round(pmi, 6))
    assert got == exp


def test_collocations_validation_and_min_count(spark):
    import pytest as _pytest

    from named_architecture_entity_recognition_spark.operators.textstats import (
        collocations,
    )

    docs = spark.createDataFrame([("d1", "a b a b a c")], "doc_id string, text string")
    out = {r.bigram for r in collocations(docs, k=10, min_count=2).collect()}
    assert out == {"a b", "b a"}  # 'a c'/'c' pairs fall under min_count
    with _pytest.raises(ValueError, match="must be >= 1"):
        collocations(docs, k=0)


def test_chunk_documents_boundaries_and_overlap(spark):
    """Chunk i covers tokens [i*stride+1, i*stride+max]; consecutive
    chunks share exactly `overlap` tokens; tail chunk may be short;
    empty docs emit nothing."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        chunk_documents,
    )

    toks = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [("d1", " ".join(toks)), ("d2", "a b"), ("d3", "   "), ("d4", "x")],
        "doc_id string, text string",
    )
    out = chunk_documents(df, max_tokens=4, overlap=2)
    rows = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in out.collect()
    }
    # d1: 10 tokens, stride 2 -> 1 + ceil(6/2) = 4 chunks
    assert rows[("d1", 0)] == (4, "w0 w1 w2 w3")
    assert rows[("d1", 1)] == (4, "w2 w3 w4 w5")
    assert rows[("d1", 2)] == (4, "w4 w5 w6 w7")
    assert rows[("d1", 3)] == (4, "w6 w7 w8 w9")
    assert ("d1", 4) not in rows
    # short doc -> single chunk; whitespace-only -> no chunks
    assert rows[("d2", 0)] == (2, "a b")
    assert rows[("d4", 0)] == (1, "x")
    assert not any(k[0] == "d3" for k in rows)


def test_chunk_documents_reconstruction(spark):
    """Dropping each chunk's first `overlap` tokens (except chunk 0)
    and concatenating reconstructs the exact token stream — no token
    lost or duplicated."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        chunk_documents,
    )

    toks = [f"t{i}" for i in range(57)]
    df = spark.createDataFrame(
        [("d", " ".join(toks))], "doc_id string, text string"
    )
    out = chunk_documents(df, max_tokens=16, overlap=5).orderBy("chunk_id")
    rebuilt = []
    for r in out.collect():
        words = r.chunk_text.split(" ")
        rebuilt.extend(words if r.chunk_id == 0 else words[5:])
    assert rebuilt == toks


def test_chunk_documents_validation_and_plan(spark):
    import pytest as _pytest

    from named_architecture_entity_recognition_spark.operators.corpus import (
        chunk_documents,
    )

    df = spark.createDataFrame([("d", "a b c")], "doc_id string, text string")
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=4, overlap=4)
    out = chunk_documents(df)
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    # narrow map + explode only: no shuffle, no Python
    assert "Exchange" not in simple, simple
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in simple, simple


def test_prepare_corpus_materialized_identical_and_single_raw_scan(
    spark, tmp_path
):
    """materialize_dir: output row-identical to the lazy plan, and the
    final union's plan reads stage parquet — the raw input appears in
    NO branch (scanned exactly once, during the flagged stage write)."""
    from named_architecture_entity_recognition_spark.operators.corpus import (
        prepare_corpus,
    )

    rows = []
    for i in range(60):
        if i % 7 == 0:
            rows.append((i, "le texte francais ici pour le filtre"))
        elif i % 5 == 0:
            rows.append((i, "the same duplicated body of text here"))
        else:
            rows.append((i, f"the document number {i} talks about the "
                            f"system and its parts in detail"))
    raw = spark.createDataFrame(rows, "doc_id int, text string")
    src = str(tmp_path / "raw")
    raw.write.parquet(src)
    docs = spark.read.parquet(src)

    lazy = {
        (r.doc_id, r.status, r.split)
        for r in prepare_corpus(docs).collect()
    }
    out = prepare_corpus(
        docs, materialize_dir=str(tmp_path / "stages")
    )
    materialized = {(r.doc_id, r.status, r.split) for r in out.collect()}
    assert materialized == lazy
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "stages/flagged" in plan or "stages/ranked" in plan, plan
    assert src not in plan, "raw corpus still scanned by the final plan"


def test_chunk_documents_random_reconstruction(spark):
    """Seeded random doc lengths x several (max_tokens, overlap)
    configs: overlap-stripped concatenation must reconstruct the token
    stream exactly in every case."""
    import numpy as np

    from named_architecture_entity_recognition_spark.operators.corpus import (
        chunk_documents,
    )

    rng = np.random.RandomState(11)
    lengths = [int(rng.randint(1, 400)) for _ in range(12)]
    df = spark.createDataFrame(
        [(f"d{j}", " ".join(f"w{j}_{i}" for i in range(n)))
         for j, n in enumerate(lengths)],
        "doc_id string, text string",
    )
    for max_tokens, overlap in ((8, 0), (16, 5), (64, 63), (512, 100)):
        out = chunk_documents(df, max_tokens=max_tokens, overlap=overlap)
        chunks: dict = {}
        for r in out.collect():
            chunks.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
        for j, n in enumerate(lengths):
            want = [f"w{j}_{i}" for i in range(n)]
            got = []
            for cid in sorted(chunks[f"d{j}"]):
                words = chunks[f"d{j}"][cid].split(" ")
                got.extend(words if cid == 0 else words[overlap:])
            assert got == want, (j, max_tokens, overlap)


def test_lm_score_semantics(spark):
    """Frequent-pattern docs score lower cross-entropy than rare-
    pattern docs; <2-token docs are absent; alpha must be positive."""
    import math

    import pytest as _pytest

    from named_architecture_entity_recognition_spark.operators.textstats import (
        lm_score,
    )

    rows = [(f"c{i}", "the cat sat on the mat") for i in range(20)]
    rows += [("rare", "zyx qwv plk jhg"), ("tiny", "word"), ("fluent",
              "the cat sat on the mat")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r for r in lm_score(docs).collect()}
    assert "tiny" not in got
    assert got["fluent"].cross_entropy < got["rare"].cross_entropy
    assert got["fluent"].n_bigrams == 5
    # hand-check one probability: bigram 'the cat' occurs 21x, history
    # 'the' starts 42 bigrams, vocab = 6 + 4 = 10
    p = (21 + 0.5) / (42 + 0.5 * 10)
    assert any(
        abs(-math.log(p) - got["fluent"].cross_entropy) < 2.0
        for _ in (0,)
    )  # same order of magnitude; exact value mixes 5 bigrams
    with _pytest.raises(ValueError, match="alpha"):
        lm_score(docs, alpha=0.0)


def test_lm_score_exact_single_bigram(spark):
    """Pinpoint the smoothed probability on a corpus where one doc is
    a single bigram: CE('a b') = -ln((c('a b')+0.5)/(h('a')+0.5*V))."""
    import math

    from named_architecture_entity_recognition_spark.operators.textstats import (
        lm_score,
    )

    docs = spark.createDataFrame(
        [("d1", "a b"), ("d2", "a b"), ("d3", "a c")],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.cross_entropy for r in lm_score(docs).collect()}
    v = 3.0  # vocab {a, b, c}
    ce_ab = -math.log((2 + 0.5) / (3 + 0.5 * v))
    ce_ac = -math.log((1 + 0.5) / (3 + 0.5 * v))
    assert abs(got["d1"] - ce_ab) < 1e-9 and abs(got["d2"] - ce_ab) < 1e-9
    assert abs(got["d3"] - ce_ac) < 1e-9
