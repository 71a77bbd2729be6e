"""Seeded inputs, generated in set-up and written to parquet.

The program under test only ever sees these files: the documents table,
the dictionaries, and (for corpus_prep) the documents flattened to text.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import random
from pathlib import Path

from pyspark.sql import functions as F

#: names in the corpus-wide dictionary (synth_documents' own default)
GAZETTEER_SIZE = 200
#: kg_resume: projects, each with its own dictionary. More than the
#: per-worker compiled-dictionary cache holds (mentions._COMPILED_CAP = 16)
N_PROJECTS = 64
#: each project dictionary: names drawn from the corpus names + names
#: that never occur in the text (realistic partial overlap)
PROJECT_IN_TEXT = 150
PROJECT_EXTRA = 50


def write_documents(spark, out: Path, n_docs: int, seed: int, files: int) -> None:
    """``synth_documents`` at its default sentence range, media ratio and
    skew, written as ``files`` parquet files (one read task each)."""
    from named_architecture_entity_recognition_spark.synth import synth_documents

    synth_documents(
        spark, n_docs, seed=seed, gazetteer_size=GAZETTEER_SIZE, partitions=files
    ).write.mode("overwrite").parquet(str(out))


def write_corpus_dictionary(out: Path) -> None:
    """The corpus-wide dictionary as one parquet file, written with
    pyarrow: a small local table needs no Spark job (a cold one costs
    seconds of set-up)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from named_architecture_entity_recognition_spark.synth import synth_gazetteer

    out.mkdir(parents=True, exist_ok=True)
    names = synth_gazetteer(GAZETTEER_SIZE)
    pq.write_table(pa.table({"name": names}), str(out / "part-0.parquet"))


def read_corpus_dictionary(path: Path) -> list:
    import pyarrow.parquet as pq

    return sorted(pq.read_table(str(path)).column("name").to_pylist())


def write_project_dictionaries(spark, docs_path: Path, out: Path, seed: int) -> None:
    """(doc_id, project) and (project, name): each document belongs to
    one seeded project; each project has its own seeded dictionary."""
    from named_architecture_entity_recognition_spark.synth import synth_gazetteer

    rng = random.Random(seed)
    pool = synth_gazetteer(GAZETTEER_SIZE + PROJECT_EXTRA * 4)
    in_text, extra = pool[:GAZETTEER_SIZE], pool[GAZETTEER_SIZE:]
    rows = []
    for p in range(N_PROJECTS):
        names = rng.sample(in_text, PROJECT_IN_TEXT) + rng.sample(extra, PROJECT_EXTRA)
        rows.extend((f"p{p:02d}", n) for n in names)
    spark.createDataFrame(rows, "project string, name string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(out / "dictionaries"))
    doc_ids = sorted(
        r.doc_id for r in spark.read.parquet(str(docs_path)).select("doc_id").collect()
    )
    assign = [(d, f"p{rng.randrange(N_PROJECTS):02d}") for d in doc_ids]
    spark.createDataFrame(assign, "doc_id string, project string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(out / "projects"))


def read_project_dictionaries(spark, path: Path) -> dict:
    """{doc_id: names} — the per-document dictionary shape the pipeline
    accepts; one shared tuple per project."""
    by_project: dict = {}
    for r in spark.read.parquet(str(path / "dictionaries")).collect():
        by_project.setdefault(r.project, []).append(r.name)
    names = {p: tuple(sorted(v)) for p, v in by_project.items()}
    return {
        r.doc_id: names[r.project]
        for r in spark.read.parquet(str(path / "projects")).collect()
    }


def write_flat_corpus(spark, docs_path: Path, out: Path) -> None:
    """The documents flattened to one text per doc (text spans joined by
    a space), keeping the documents' file layout."""
    docs = spark.read.parquet(str(docs_path))
    flat = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]
            ),
        ).alias("text"),
    )
    flat.write.mode("overwrite").parquet(str(out))


def document_sizes(docs_path: Path) -> dict:
    """Documents and text sentences (text spans) of the documents table,
    counted with pyarrow (no Spark job)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    spans = ds.dataset(str(docs_path), format="parquet").to_table(columns=["spans"])
    kinds = pc.struct_field(pc.list_flatten(spans.column("spans")), "kind")
    return {"docs": spans.num_rows, "sentences": pc.sum(pc.equal(kinds, "text")).as_py()}
