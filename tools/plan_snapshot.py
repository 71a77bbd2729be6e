"""Emit a PLANS_r<N>.md: the formatted physical plans of the flagship
pipeline and the headline queries, as a committed artifact — the plans
the 100 TB claims rest on (zero-exchange flagship, pushed filters,
broadcast joins, partial-agg caps) should be reviewable without
running Spark.

Usage: python tools/plan_snapshot.py <out_md>

The output path is required: a default would overwrite a committed
snapshot when run from the repo root.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"

HEADLINERS = (
    "q_naer_triples",
    "q_exact_dedup",
    "q_lsh_pairs",
    "q_bm25_topk",
    "q_funnel_levels",
    "q_funnel_array",
    "q_asof_join",
    "q_range_join",
    "q_ann_int8_topk",
    "q_triangles",
    "q_rollup_sets",
    "q_chunk_docs",
    "q_lm_score",
    "q_cooccur",
    "q_media_features",
    "q_naer_entities_docgaz",
    "q_naer_entities_typed",
    "q_hist_quantiles",
    "q_dup_spans",
)


def main(out: str) -> None:
    import __spark_entry__ as entrymod
    from named_architecture_entity_recognition_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    lines = [
        "# Physical plan snapshots (generated by tools/plan_snapshot.py)",
        "",
        "Formatted plans at sf0.001 — structure (exchanges, joins,",
        "pushed filters, codegen spans) is scale-invariant; sizes are",
        "not. Regenerate after plan-affecting changes.",
        "",
        "Note: the single RoundRobin exchange in q_naer_triples is the",
        "small-input conditioning repartition (the fixture parquet is",
        "one file -> one scan partition; see __spark_entry__.",
        "_flat_to_spans_docs). It fires only when scan parallelism <",
        "cores; the RecognizerPipeline itself remains exchange-free",
        "(test_kg_pipeline_zero_shuffle).",
        "",
    ]
    for name in HEADLINERS:
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # the typed-gazetteer pack separator is a literal NUL, which
        # would make the artifact a "binary" file for grep/git diff
        plan = plan.replace("\x00", "\\x00")
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]

    # the joined per-doc gazetteer transport (r4): broadcast dictionary
    # join leaves the documents side unshuffled
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_entities_df_joined,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(1).alias("offset"),
            )
        ).alias("spans"),
    )
    gaz_df = spark.createDataFrame(
        [("doc1", "alpha"), ("doc2", "beta")], "doc_id string, name string"
    )
    df = detect_entities_df_joined(docs, gaz_df, broadcast=True)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    lines += [
        "## detect_entities_df_joined (per-doc dictionary TABLE, broadcast)",
        "",
        "```",
        plan.rstrip(),
        "```",
        "",
    ]
    Path(out).write_text("\n".join(lines))
    print(f"wrote {out} ({len(HEADLINERS) + 1} plans)")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
