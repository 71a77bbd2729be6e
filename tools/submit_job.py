"""spark-submit entry point for the NAER KG-construction pipeline.

Cluster launch (north_rule):

    python tools/package.py       # build dist/naer_spark.zip, dist/nofork-fs.jar
    spark-submit --master <cluster> \
        --py-files dist/naer_spark.zip --jars dist/nofork-fs.jar \
        tools/submit_job.py \
        --input  <documents table path or iceberg name> \
        --gazetteer <csv path (modelElementID,componentName) or txt> \
        --output <triples output dir> \
        --checkpoint <stage-checkpoint root> \
        [--n-buckets 256] [--synth N_DOCS]

Under spark-submit, ``get_spark`` leaves ``spark.python.daemon.module``
alone, so the executors run PySpark's stock daemon. Where the executor
``PYTHONPATH`` holds the package when the daemon starts, add
``--conf spark.python.daemon.module=named_architecture_entity_recognition_spark.worker_daemon``
so reused workers stop re-reading ``pyspark.zip`` before each task.
``--py-files`` alone does not cover the daemon: it reaches the workers
per task.

Local smoke (same code path):

    python tools/submit_job.py --synth 2000 --output /tmp/naer_out \
        --checkpoint /tmp/naer_ckpt

The job is resumable: re-running with the same --checkpoint recomputes
only doc buckets missing from the stage manifests (per-partition
lineage + metrics, plans/lineage.py). On a real cluster --input is an
Iceberg table; in the sandbox a parquet path works identically.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def load_gazetteer(spark, path: str) -> list:
    """Sorted component names from a reference-format gazetteer CSV
    (csv_sources.read_gazetteer_csv) or a one-per-line text file."""
    from named_architecture_entity_recognition_spark.sources import csv_sources

    if Path(path).suffix == ".csv":
        gaz = csv_sources.read_gazetteer_csv(spark, path)
        return sorted(r.name for r in gaz.select("name").collect())
    lines = Path(path).read_text().splitlines()
    return sorted({ln.strip() for ln in lines if ln.strip()})


def sink_files(output: str):
    """Parquet data files under a local --output; None for a table."""
    root = Path(output)
    return sum(1 for _ in root.rglob("*.parquet")) if root.is_dir() else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="documents table (parquet path or iceberg name)")
    ap.add_argument("--gazetteer", help="gazetteer csv/txt path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument(
        "--n-buckets", type=int, default=64,
        help="doc buckets of the checkpoint stages and subject buckets"
        " of the sink",
    )
    ap.add_argument("--synth", type=int, help="generate N synthetic docs instead of --input")
    args = ap.parse_args(argv)

    from named_architecture_entity_recognition_spark.plans.lineage import (
        StageCheckpoint,
        checkpointed_pipeline,
    )
    from named_architecture_entity_recognition_spark.session import get_spark
    from named_architecture_entity_recognition_spark.synth import (
        synth_documents,
        synth_gazetteer,
    )

    # under spark-submit the master comes from the launcher (--master);
    # get_spark fills in local[*] only when it starts the JVM itself
    spark = get_spark("naer-kg-submit")

    if args.synth:
        docs = synth_documents(spark, args.synth, seed=42)
        gaz = synth_gazetteer(200)
    else:
        if not args.input:
            ap.error("--input or --synth required")
        from named_architecture_entity_recognition_spark.sources.lakehouse import (
            read_documents,
        )

        docs = read_documents(spark, args.input)
        gaz = load_gazetteer(spark, args.gazetteer) if args.gazetteer else []

    t0 = time.time()
    triples = checkpointed_pipeline(
        docs, gaz, args.checkpoint, n_buckets=args.n_buckets
    )
    n = triples.count()
    from named_architecture_entity_recognition_spark.sources.lakehouse import (
        write_triples,
    )

    write_triples(
        triples.select("subj", "pred", "obj"), args.output, n_buckets=args.n_buckets
    )
    dt = time.time() - t0
    metrics = {
        s: StageCheckpoint(args.checkpoint, s, args.n_buckets).metrics()
        for s in ("mentions", "entities", "triples")
    }
    out = {
        "n_triples": n,
        "sec": round(dt, 2),
        "sink_files": sink_files(args.output),
        "stage_metrics": metrics,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
