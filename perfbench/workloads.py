"""The workloads: ``kg_build`` and ``corpus_prep`` (BENCHMARK.json) and
``kg_resume`` (run by hand; see DESIGN.md). Each takes a ``Run``
(session, work directory, seed, seconds, trace flag) and an input
scale, does its set-up, then repeats its timed operation, each followed
by its check, for ``run.seconds``.

Untraced, a workload returns ``{"docs", "kind"}`` (its input size and
the kind of its timed operations) for the
end-to-end metrics. Traced, untraced operations (the baseline for the
tracing overhead and for coverage) take turns with traced ones (spans,
noop-sink prefixes, wrappers and SQL metrics), and the workload returns
``{"layers": {...}}``.
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

import checks
import inputs
from tracing import SqlMetrics, job_group, pick, span_seconds, stage_wrappers

# kg_build: a pass = RecognizerPipeline.triples -> lakehouse.write_triples
BUILD_DOCS = 200
#: subject buckets of the sink. The sink's file count is tasks x preds x
#: buckets and per-file cost dominates a pass: at the default 256 one
#: pass takes ~9 s on 4 cores, too long to repeat inside a run.
BUILD_BUCKETS = 32
#: untimed passes after the reference: the first passes still carry
#: JIT compilation of the writer's per-file code
BUILD_WARMUP = 2
N_LOOKUPS = 100
# kg_resume: a cycle = crash (untimed) -> checkpointed_pipeline -> count
RESUME_DOCS = 100
RESUME_BUCKETS = 8
#: documents of kg_build's traced lineage cycles
LINEAGE_DOCS = 64
#: the crash: bucket WIPED loses its data and manifest entry, bucket
#: ORPHANED keeps published data but loses its manifest entry
#: (tests/test_lineage.py's two crash shapes), in all three stages
WIPED, ORPHANED = 2, 5
STAGES = ("mentions", "entities", "triples")
# corpus_prep: a pass = prepare_corpus(max_bucket_size=64, materialize_dir)
# -> status table
PREP_DOCS = 100
MAX_BUCKET = 64
#: a prep pass costs ~8 s, and without the JIT compiler threads its CPU
#: time is flat from the first pass after the warm-up, so two suffice
PREP_MIN_OPS = 2

#: at least this many timed operations per run, so the reported median
#: is never the first (coldest) one alone
MIN_OPS = 3


def _scaled(n: int, scale: float) -> int:
    return max(8, int(n * scale))


def _repeat(budget_s: float, minimum: int, op) -> None:
    """Closed loop: run ``op`` at least ``minimum`` times, then while a
    further run is expected to finish inside ``budget_s``."""
    start = time.perf_counter()
    done, spent = 0, 0.0
    while done < minimum or spent + spent / done <= budget_s:
        op()
        done += 1
        spent = time.perf_counter() - start


def _alternate(budget_s: float, untraced_op, traced_op) -> None:
    """Traced runs: untraced and traced operations take turns in ABBA
    order (U T, T U, U T, ...), so neither drift (warm-up, host speed)
    nor the position inside a pair biases the untraced baseline."""
    pairs = []

    def pair():
        first, second = (
            (untraced_op, traced_op) if len(pairs) % 2 == 0 else (traced_op, untraced_op)
        )
        first()
        second()
        pairs.append(None)

    _repeat(budget_s, 2, pair)  # one ABBA cycle at least


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; a failed operation is +inf."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _coverage(layers: dict, names, untraced) -> None:
    """Share of the untraced operation's median wall time that the
    layer self times account for."""
    base = _median(untraced)
    layers["trace.coverage"] = sum(layers[n] for n in names) / base if base else 0.0


# --------------------------------------------------------------------- kg_build
def kg_build(run, scale: float) -> dict:
    from named_architecture_entity_recognition_spark.operators.entities import (
        assemble_entities,
    )
    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_mentions_df,
    )
    from named_architecture_entity_recognition_spark.operators.triples import to_triples
    from named_architecture_entity_recognition_spark.plans.pipeline import (
        RecognizerPipeline,
    )
    from named_architecture_entity_recognition_spark.sources.lakehouse import (
        read_documents,
        read_triples,
        write_triples,
    )

    spark, work = run.spark, run.work
    n_docs = _scaled(BUILD_DOCS, scale)
    with run.phase("inputs"):
        inputs.write_documents(spark, work / "docs", n_docs, run.seed, run.cpus)
        inputs.write_corpus_dictionary(work / "dictionary")
    docs = read_documents(spark, str(work / "docs"))
    gaz = inputs.read_corpus_dictionary(work / "dictionary")
    pipe = RecognizerPipeline(gaz)

    # reference output from the unfused path, computed once; it also
    # starts the Python workers and fills their compiled-dictionary cache
    with run.phase("reference"):
        to_triples(
            assemble_entities(detect_mentions_df(docs, gaz, validate_format=True))
        ).write.parquet(str(work / "reference"))
    reference = spark.read.parquet(str(work / "reference"))
    reference_rows = checks.sorted_triples(work / "reference")
    with run.phase("sizes"):
        run.info["sizes"] = {
            **inputs.document_sizes(work / "docs"),
            "triples": len(reference_rows),
            "dictionaries": 1,
            "sink_buckets": BUILD_BUCKETS,
        }

    sink = work / "sink"

    def write_pass() -> None:
        write_triples(pipe.triples(docs), str(sink), n_buckets=BUILD_BUCKETS)

    def check_pass(_):
        return checks.sorted_problem(checks.sorted_triples(sink), reference_rows)

    def build_pass(body=None) -> None:
        shutil.rmtree(sink, ignore_errors=True)  # a fresh sink, untimed
        run.timed("pass", body or write_pass, check_pass, traced=body is not None)

    with run.phase("warmup"):
        for _ in range(BUILD_WARMUP):  # the fused plan and the partitioned writer
            write_pass()

    if not run.trace:
        _repeat(run.seconds, MIN_OPS, build_pass)
        return {"docs": n_docs, "kind": "pass"}

    # traced: untraced passes (the baseline) take turns with passes that
    # are split into layers by noop-sink prefixes
    sql = SqlMetrics(spark)
    tr = run.tracer
    per_pass: list = []

    def traced_pass() -> None:
        sample: dict = {}

        def body():
            # the real write first, so it runs under the same conditions
            # as an untraced pass; then its growing noop-sink prefixes
            with tr.span("pass"):
                mark = sql.mark()
                with tr.span("write") as sp:
                    write_pass()
                sample["write"] = (sp["end"] - sp["start"], sql.since(mark))
                for name, df in (
                    ("scan", docs.select("doc_id", F.col("spans.kind"), F.col("spans.text"))),
                    ("detect", pipe.entities(docs)),
                    ("triples", pipe.triples(docs)),
                ):
                    mark = sql.mark()
                    with tr.span(f"prefix.{name}") as sp:
                        _noop(df)
                    sample[name] = (sp["end"] - sp["start"], sql.since(mark))

        build_pass(body)
        per_pass.append(sample)

    _alternate(run.seconds, build_pass, traced_pass)
    layers = _pass_layers(per_pass, run.seconds_of("pass"))
    layers.update(_lookup_layers(run, spark, sql, reference, read_triples(spark, str(sink))))

    # the lineage layers (kg_resume's, which the benchmark's workload
    # list leaves out): crash + resume cycles of the checkpointed
    # pipeline over the first LINEAGE_DOCS documents and the same
    # dictionary (a subset keeps the traced run well inside its time)
    lineage_docs = work / "lineage" / "docs"
    docs.orderBy("doc_id").limit(LINEAGE_DOCS).write.parquet(str(lineage_docs))
    res = Resume(run, read_documents(spark, str(lineage_docs)), gaz, work / "lineage")
    _repeat(run.seconds / 4, 2, lambda: res.cycle(traced=True))
    lineage = res.layers()
    layers.update((k, lineage[k]) for k in LINEAGE_SELF + LINEAGE_COUNTS)
    return {"layers": _host(run, layers)}


def _pass_layers(per_pass: list, untraced: list) -> dict:
    """Self times of the scan, detection, explode and write layers (each
    prefix minus the previous one) and the SQL metrics of the traced
    passes, as medians over the passes."""

    def med(fn):
        return _median([fn(p) for p in per_pass])

    t = {k: med(lambda p, k=k: p[k][0]) for k in ("scan", "detect", "triples", "write")}

    def sql(stage, node, metric, scale=1.0):
        return med(lambda p: pick(p[stage][1], node, metric)) / scale

    layers = {
        "lakehouse.scan_s": t["scan"],
        "mentions.detect_s": t["detect"] - t["scan"],
        "triples.explode_s": t["triples"] - t["detect"],
        "lakehouse.write_s": t["write"] - t["triples"],
        "mentions.python_s": sql("detect", "MapInArrow", "time to run Python workers"),
        "mentions.arrow_mb_in": sql("detect", "MapInArrow", "data sent to Python workers", 2**20),
        "mentions.arrow_mb_out": sql(
            "detect", "MapInArrow", "data returned from Python workers", 2**20
        ),
        "triples.rows": sql("write", "Execute", "number of output rows"),
        "lakehouse.files_written": sql("write", "Execute", "number of written files"),
        "lakehouse.mb_written": sql("write", "Execute", "written output", 2**20),
        "trace.overhead_frac": t["write"] / _median(untraced) - 1.0,
    }
    _coverage(
        layers,
        ("lakehouse.scan_s", "mentions.detect_s", "triples.explode_s", "lakehouse.write_s"),
        untraced,
    )
    return layers


def _lookup_layers(run, spark, sql, reference, table) -> dict:
    """N_LOOKUPS seeded subject lookups on the last sink, each checked
    against the reference; scan files read from the first ten."""
    from named_architecture_entity_recognition_spark.sources.lakehouse import (
        subj_bucket_col,
    )

    subjects = sorted(r.subj for r in reference.select("subj").distinct().collect())
    rng = random.Random(run.seed)
    picks = [rng.choice(subjects) for _ in range(N_LOOKUPS)]
    wanted = spark.createDataFrame([(s,) for s in sorted(set(picks))], "subj string")
    bucket = {
        r.subj: r.b
        for r in wanted.select("subj", subj_bucket_col(BUILD_BUCKETS).alias("b")).collect()
    }
    expected: dict = {s: [] for s in bucket}
    for r in reference.join(wanted, "subj").collect():
        expected[r.subj].append((r.subj, r.pred, r.obj))

    def lookup(subj):
        return table.filter(
            (F.col("subj_bucket") == bucket[subj]) & (F.col("subj") == subj)
        ).collect()

    lookup(picks[0])  # warm-up
    files_read = []
    for i, s in enumerate(picks):
        mark = sql.mark()
        run.timed(
            "lookup",
            lambda s=s: lookup(s),
            lambda rows, s=s: checks.lookup_problem(rows, expected[s]),
        )
        if i < 10:
            files_read.append(pick(sql.since(mark), "Scan", "number of files read"))
    run.info["sizes"]["lookups"] = N_LOOKUPS
    lookup_ms = [s * 1000.0 for s in run.seconds_of("lookup")]
    return {
        "lakehouse.lookup_ms_p50": percentile(lookup_ms, 50),
        "lakehouse.lookup_ms_p90": percentile(lookup_ms, 90),
        "lakehouse.lookup_files_read": _median(files_read),
    }


def _host(run, layers: dict) -> dict:
    layers["host.probe_ms"] = _median([o["probe_ms"] for o in run.ops])
    return layers


# -------------------------------------------------------------------- kg_resume
class Resume:
    """A checkpointed pipeline over one documents table: the
    uninterrupted run (untimed; doubles as the warm-up, its output is
    the reference), then crash + resume cycles, each timed and checked."""

    def __init__(self, run, docs, gaz, root):
        from named_architecture_entity_recognition_spark.plans.lineage import (
            MANIFEST,
            checkpointed_pipeline,
        )

        self.run, self.docs, self.gaz = run, docs, gaz
        self.ckpt = root / "checkpoint"
        self._manifest_name = MANIFEST
        self._pipeline = checkpointed_pipeline
        self.samples: list = []
        with run.phase("full_run"):
            full = self.call()
            self.n_triples = full.count()
            full.drop("doc_bucket").write.parquet(str(root / "reference"))
        self.reference = run.spark.read.parquet(str(root / "reference"))

    def call(self):
        return self._pipeline(self.docs, self.gaz, str(self.ckpt), n_buckets=RESUME_BUCKETS)

    def _manifest_path(self, stage: str):
        return self.ckpt / stage / self._manifest_name

    def _completed(self) -> int:
        return sum(
            len(json.loads(self._manifest_path(s).read_text())["buckets"]) for s in STAGES
        )

    def crash(self) -> int:
        for stage in STAGES:
            m = json.loads(self._manifest_path(stage).read_text())
            for b in (WIPED, ORPHANED):
                m["buckets"].pop(str(b), None)
            self._manifest_path(stage).write_text(json.dumps(m))
            shutil.rmtree(self.ckpt / stage / f"doc_bucket={WIPED}", ignore_errors=True)
        return self._completed()

    def cycle(self, traced: bool = False) -> None:
        run = self.run
        before = self.crash()
        sample: dict = {}

        def op():
            if traced:
                tr, sql = run.tracer, SqlMetrics(run.spark)
                mark = sql.mark()
                group = f"cycle{len(self.samples)}"
                with tr.span("cycle") as cyc, job_group(run.spark, group) as jobs:
                    with stage_wrappers(tr, {}):
                        out = self.call()
                    with tr.span("lineage.count"):
                        out.count()
                    sample["jobs"] = jobs()
                sample.update(span=cyc, sql=sql.since(mark))
            else:
                out = self.call()
                out.count()
            sample["recomputed"] = self._completed() - before
            return out

        run.timed(
            "resume",
            op,
            lambda out: checks.resume_problem(
                out.drop("doc_bucket"),
                self.reference,
                sample["recomputed"],
                2 * len(STAGES),
            ),
            traced,
        )
        if traced:
            self.samples.append(sample)

    def layers(self) -> dict:
        """Self times and counts of the traced cycles."""
        tr, samples = self.run.tracer, self.samples

        def med_span(name):
            return _median([span_seconds(tr, name, s["span"]) for s in samples])

        def med_sql(metric):
            return _median([pick(s["sql"], "MapInArrow", metric) for s in samples])

        return {
            "lineage.mentions_s": med_span("lineage.mentions"),
            "lineage.entities_s": med_span("lineage.entities"),
            "lineage.triples_s": med_span("lineage.triples"),
            "lineage.count_s": med_span("lineage.count"),
            "lineage.jobs": _median([s["jobs"] for s in samples]),
            "lineage.buckets_recomputed": _median([s["recomputed"] for s in samples]),
            "lineage.cycle_s": med_span("cycle"),
            "mentions.python_s": med_sql("time to run Python workers"),
            "mentions.arrow_mb_in": med_sql("data sent to Python workers") / 2**20,
            "mentions.arrow_mb_out": med_sql("data returned from Python workers") / 2**20,
        }


LINEAGE_SELF = ("lineage.mentions_s", "lineage.entities_s", "lineage.triples_s", "lineage.count_s")
LINEAGE_COUNTS = ("lineage.jobs", "lineage.buckets_recomputed")


def kg_resume(run, scale: float) -> dict:
    from named_architecture_entity_recognition_spark.sources.lakehouse import (
        read_documents,
    )

    spark, work = run.spark, run.work
    n_docs = _scaled(RESUME_DOCS, scale)
    with run.phase("inputs"):
        inputs.write_documents(spark, work / "docs", n_docs, run.seed, run.cpus)
        inputs.write_project_dictionaries(
            spark, work / "docs", work / "dictionaries", run.seed
        )
    docs = read_documents(spark, str(work / "docs"))
    gaz = inputs.read_project_dictionaries(spark, work / "dictionaries")
    res = Resume(run, docs, gaz, work)
    with run.phase("warmup"):
        res.crash()  # the first resume after the full run is still cold
        res.call().count()
    run.info["sizes"] = {
        **inputs.document_sizes(work / "docs"),
        "triples": res.n_triples,
        "dictionaries": len(set(gaz.values())),
        "checkpoint_buckets": RESUME_BUCKETS,
        "buckets_removed": 2 * len(STAGES),
    }
    if not run.trace:
        _repeat(run.seconds, MIN_OPS, res.cycle)
        return {"docs": n_docs, "kind": "resume"}

    _alternate(run.seconds, res.cycle, lambda: res.cycle(traced=True))
    layers = res.layers()
    untraced = run.seconds_of("resume")
    layers["trace.overhead_frac"] = layers.pop("lineage.cycle_s") / _median(untraced) - 1.0
    _coverage(layers, LINEAGE_SELF, untraced)
    return {"layers": _host(run, layers)}


# ------------------------------------------------------------------ corpus_prep
def corpus_prep(run, scale: float) -> dict:
    from named_architecture_entity_recognition_spark.operators.corpus import (
        prepare_corpus,
    )

    spark, work = run.spark, run.work
    n_docs = _scaled(PREP_DOCS, scale)
    with run.phase("inputs"):
        inputs.write_documents(spark, work / "docs", n_docs, run.seed, run.cpus)
        inputs.write_flat_corpus(spark, work / "docs", work / "flat")
    flat = spark.read.parquet(str(work / "flat"))
    input_ids = [r.doc_id for r in flat.select("doc_id").collect()]

    # every pass goes through the program's stage-table path into an
    # empty directory (cleared untimed before the pass) and leaves its
    # near-dup clusters (doc_id, cluster_id) there for its check
    stages = work / "stages"

    def call():
        return prepare_corpus(flat, max_bucket_size=MAX_BUCKET, materialize_dir=str(stages))

    def collect(out):
        return [(r.doc_id, r.status) for r in out.select("doc_id", "status").collect()]

    with run.phase("warmup"):
        first = collect(call())
    run.info["sizes"] = {
        **inputs.document_sizes(work / "docs"),
        "triples": 0,
        "dictionaries": 0,
        "clusters": len(set(checks.clusters(stages).values())),
    }

    def check(rows):
        return checks.corpus_problem(rows, input_ids, checks.clusters(stages), first)

    def timed_pass(body, traced=False):
        shutil.rmtree(stages, ignore_errors=True)
        run.timed("prep", body, check, traced)

    def untraced_pass():
        timed_pass(lambda: collect(call()))

    if not run.trace:
        _repeat(run.seconds, PREP_MIN_OPS, untraced_pass)
        return {"docs": n_docs, "kind": "prep"}

    tr = run.tracer
    samples: list = []

    def traced_pass():
        stats: dict = {}
        sample: dict = {}

        def body():
            with tr.span("prep") as sp, job_group(spark, f"prep{len(samples)}") as jobs:
                with stage_wrappers(tr, stats), tr.span("corpus.call") as span_call:
                    out = call()
                with tr.span("corpus.action") as act:
                    rows = collect(out)
                sample["jobs"] = jobs()
            sample.update(
                span=sp, call=span_call, action=act, iterations=stats.get("cc_iterations", 0)
            )
            sample["rows"] = rows
            return rows

        timed_pass(body, traced=True)
        samples.append(sample)

    _alternate(run.seconds, untraced_pass, traced_pass)

    def dur(rec):
        return rec["end"] - rec["start"]

    untraced = run.seconds_of("prep")
    last = samples[-1]["rows"]
    layers = {
        "cc.cc_s": _median([span_seconds(tr, "cc", s["span"]) for s in samples]),
        "cc.iterations": _median([s["iterations"] for s in samples]),
        "corpus.eager_s": _median(
            [dur(s["call"]) - span_seconds(tr, "cc", s["span"]) for s in samples]
        ),
        "corpus.action_s": _median([dur(s["action"]) for s in samples]),
        "corpus.jobs": _median([s["jobs"] for s in samples]),
        "trace.overhead_frac": _median([dur(s["span"]) for s in samples]) / _median(untraced)
        - 1.0,
    }
    for status in ("kept", "near_dup", "exact_dup", "lang", "quality"):
        layers[f"corpus.{status}"] = sum(1 for _, st in last if st == status)
    _coverage(layers, ("cc.cc_s", "corpus.eager_s", "corpus.action_s"), untraced)
    return {"layers": _host(run, layers)}


WORKLOADS = {"kg_build": kg_build, "kg_resume": kg_resume, "corpus_prep": corpus_prep}
