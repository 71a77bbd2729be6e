"""Checkpoint/resume with per-partition lineage (north_rule)."""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.plans.pipeline import (
    RecognizerPipeline,
)
from named_architecture_entity_recognition_spark.plans.lineage import (
    StageCheckpoint,
    checkpointed_pipeline,
    with_bucket,
)
from named_architecture_entity_recognition_spark.synth import (
    synth_documents,
    synth_gazetteer,
)


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, 24, seed=7, gazetteer_size=20,
                           sentences_lo=5, sentences_hi=15)


def test_bucketing_is_deterministic(spark, docs):
    a = with_bucket(docs.select("doc_id"), 4).collect()
    b = with_bucket(docs.select("doc_id").repartition(7), 4).collect()
    assert {(r.doc_id, r.doc_bucket) for r in a} == {
        (r.doc_id, r.doc_bucket) for r in b
    }


def test_stage_checkpoint_resume(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = []

    def compute(pending):
        calls.append(pending.select("doc_bucket").distinct().count())
        return pending.select("doc_id", "doc_bucket", F.size("spans").alias("n"))

    st = StageCheckpoint(root, "sizes", n_buckets=4)
    out1 = st.run(compute, docs)
    assert out1.count() == 24
    assert st.completed_buckets() == {0, 1, 2, 3}
    # resume: nothing recomputed
    st2 = StageCheckpoint(root, "sizes", n_buckets=4)
    out2 = st2.run(compute, docs)
    assert out2.count() == 24
    assert len(calls) == 1  # second run never called compute


def test_partial_resume_completes_missing_buckets(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt2")

    def compute(pending):
        return pending.select("doc_id", "doc_bucket")

    st = StageCheckpoint(root, "ids", n_buckets=4)
    st.run(compute, docs)
    # simulate a crash that lost bucket 2's manifest entry
    m = json.loads(st.manifest_path.read_text())
    del m["buckets"]["2"]
    st.manifest_path.write_text(json.dumps(m))
    # wipe that bucket's data too
    import shutil

    for p in (st.dir).glob("doc_bucket=2"):
        shutil.rmtree(p)
    st3 = StageCheckpoint(root, "ids", n_buckets=4)
    out = st3.run(compute, docs)
    assert out.count() == 24
    assert st3.completed_buckets() == {0, 1, 2, 3}


def test_resume_under_another_bucket_count_recomputes_whole_stage(
    spark, docs, tmp_path
):
    """Bucket ids under 4 buckets name other docs than under 8, so a
    complete 4-bucket stage resumed with 8 buckets must equal a fresh
    8-bucket run, not keep buckets 0-3 and add 4-7 on top."""

    def compute(pending):
        return pending.select("doc_id", "doc_bucket")

    root = str(tmp_path / "rebucket")
    StageCheckpoint(root, "ids", n_buckets=4).run(compute, docs)
    st = StageCheckpoint(root, "ids", n_buckets=8)
    got = st.run(compute, docs).collect()
    fresh = StageCheckpoint(str(tmp_path / "fresh"), "ids", n_buckets=8)
    want = fresh.run(compute, docs).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert st.metrics()["n_buckets"] == 8


def test_crash_between_write_and_manifest_no_duplicates(spark, docs, tmp_path):
    """The r1-flagged resume-atomicity hazard: a crash AFTER bucket data
    lands but BEFORE the manifest records it must not duplicate rows on
    resume. Simulated by erasing a bucket's manifest entry while leaving
    its published data on disk — exactly the post-crash state."""
    root = str(tmp_path / "ckpt4")

    def compute(pending):
        return pending.select("doc_id", "doc_bucket")

    st = StageCheckpoint(root, "ids", n_buckets=4)
    first = st.run(compute, docs)
    baseline = sorted(r.doc_id for r in first.collect())
    # crash state: bucket 1 data published, manifest never committed
    m = json.loads(st.manifest_path.read_text())
    del m["buckets"]["1"]
    st.manifest_path.write_text(json.dumps(m))
    assert any(st.dir.glob("doc_bucket=1"))  # orphaned data IS on disk
    st2 = StageCheckpoint(root, "ids", n_buckets=4)
    out = st2.run(compute, docs)
    got = sorted(r.doc_id for r in out.collect())
    assert got == baseline  # recomputed once, not appended twice
    assert st2.completed_buckets() == {0, 1, 2, 3}


def test_crash_mid_staging_is_cleaned(spark, docs, tmp_path):
    """A crash during the staging write leaves _staging garbage; the
    next run must discard it and still produce exact output."""
    root = str(tmp_path / "ckpt5")

    def compute(pending):
        return pending.select("doc_id", "doc_bucket")

    st = StageCheckpoint(root, "ids", n_buckets=2)
    # fake a dead run: partial staging output, no manifest
    staging = st.dir / "_staging" / "doc_bucket=0"
    staging.mkdir(parents=True)
    (staging / "part-garbage.parquet").write_bytes(b"not parquet")
    out = st.run(compute, docs)
    assert out.count() == 24
    assert not (st.dir / "_staging").exists()
    assert st.completed_buckets() == {0, 1}


def test_metrics_recorded(spark, docs, tmp_path):
    root = str(tmp_path / "ckpt3")
    st = StageCheckpoint(root, "ids", n_buckets=2)
    st.run(lambda p: p.select("doc_id", "doc_bucket"), docs)
    m = st.metrics()
    assert set(m["buckets"]) == {"0", "1"}
    for entry in m["buckets"].values():
        assert entry["rows_in"] > 0 and entry["rows_out"] > 0


def test_checkpointed_pipeline_end_to_end(spark, docs, tmp_path):
    gaz = synth_gazetteer(20)
    root = str(tmp_path / "pipe")
    t1 = checkpointed_pipeline(docs, gaz, root, n_buckets=2)
    n1 = t1.count()
    assert n1 > 0
    # full resume is a no-op producing identical output
    t2 = checkpointed_pipeline(docs, gaz, root, n_buckets=2)
    assert t2.count() == n1


def test_checkpointed_pipeline_quarantines_f1_invalid_docs(spark, docs, tmp_path):
    """The resumable pipeline and RecognizerPipeline give the same
    triples when some docs break F1: each quarantines a doc whose first
    text line lost its terminator, instead of emitting triples for it."""
    first_text = F.array_position(F.transform("spans", lambda s: s["kind"]), "text")
    broken = docs.withColumn(
        "spans",
        F.when(
            F.col("doc_id").isin([r.doc_id for r in docs.select("doc_id").take(8)[::2]]),
            F.transform(
                "spans",
                lambda s, i: F.when(
                    i + 1 == first_text,
                    s.withField("text", F.regexp_replace(s["text"], r"[.!?]\s*$", "")),
                ).otherwise(s),
            ),
        ).otherwise(F.col("spans")),
    )
    gaz = synth_gazetteer(20)

    def spo(triples):
        return Counter(tuple(r) for r in triples.select("subj", "pred", "obj").collect())

    resumable = spo(checkpointed_pipeline(broken, gaz, str(tmp_path / "f1"), n_buckets=2))
    assert resumable == spo(RecognizerPipeline(gaz).triples(broken))
    assert resumable != spo(RecognizerPipeline(gaz, validate=False).triples(broken))
