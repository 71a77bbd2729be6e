"""Distributed gazetteer detection: one mapInArrow kernel over whole
documents (anaphora is doc-sequential state, so the unit of parallelism
is the document, not the sentence).

``_detect`` holds the one Arrow kernel, a batch loop: gc pause,
``doc_id``/``sents`` decode, F1 check, dictionary resolution,
``detect_doc``. Two output builders consume it: ``_mention_batch`` ('mention', 'alias' and
'quarantined' records, schema.MENTIONS) and ``_entity_batch`` (the
A1-A4 grouping fused per (doc_id, name), schema.ENTITIES).

One dictionary resolver serves every dictionary shape: a JOIN row
carries its own packed ``TYPE\\x00name`` list; a closure dictionary
(flat list, typed map or ``{doc_id: names}``) is the degenerate case of
a row without one, where the doc_id picks the names. A row's
dictionary is the only input that changes what the kernel computes:
every dictionary compiles under the matcher's default configuration,
and each (reused) worker process keeps the 16 most recently used
compiled dictionaries.

The Python boundary receives ONLY (doc_id, sents[, names]): sentences
are projected out of the span structs JVM-side (``_sents_expr``), so
media_ref/kind/offset bytes never cross it; at 32 cores that halved the
detection stage's memory-bandwidth footprint versus shipping the span
structs. No shuffle: documents in -> rows out, partition-preserving.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from named_architecture_entity_recognition_spark.operators.matching import (
    compile_gazetteer,
    detect_doc,
)
from named_architecture_entity_recognition_spark.schema import ENTITIES, MENTIONS

#: reference NamedEntityType enum (model/NamedEntityType.java:8)
ENTITY_TYPES = ("COMPONENT", "INTERFACE", "CLASS")


def normalize_gazetteer(gazetteer_names):
    '''Accept the reference dictionary shapes: a flat name list (all
    COMPONENT), a typed map {COMPONENT|INTERFACE|CLASS: names}
    (recognizer/Prompt.java:56-85), or a per-doc map {doc_id: names}.
    Returns (default_names, gaz_map_by_doc, name_to_type).'''
    name_to_type = {}
    if isinstance(gazetteer_names, dict):
        keys = set(gazetteer_names)
        if keys and keys <= set(ENTITY_TYPES):
            names = []
            for etype in ENTITY_TYPES:  # fixed precedence on collisions
                for n in gazetteer_names.get(etype, ()):
                    if n not in name_to_type:
                        name_to_type[n] = etype
                        names.append(n)
            return tuple(names), {}, name_to_type
        return (), {k: tuple(v) for k, v in gazetteer_names.items()}, {}
    return tuple(gazetteer_names), {}, {}


@functools.lru_cache(maxsize=16)
def _compiled_gaz(names: tuple):
    """Worker-process-level cache: names tuple -> compiled gazetteer.
    compile_gazetteer(200 names) costs ~56 CPU-ms
    (``synth_gazetteer(200)``, one core of a 4-vCPU host; ~0.3 ms per
    name up to 20,000 names), a measurable fraction of a short task.
    Bounded: with per-doc dictionaries ({doc_id: names}) a reused worker
    would otherwise keep one compiled index + line cache (up to 200k
    entries each) per distinct dictionary."""
    return compile_gazetteer(list(names))


def _line_is_valid(ln) -> bool:
    """Reference one-sentence-per-line invariant (F1): trimmed line is
    non-empty and ends with a sentence terminator
    (model/SoftwareArchitectureDocumentation.java:76-95)."""
    if ln is None:
        return False
    t = ln.strip()
    return bool(t) and t[-1] in ".!?"


def _unpack(packed: tuple):
    """A JOIN row's packed 'TYPE\\x00name' strings -> (names,
    name_to_type), with ENTITY_TYPES precedence on collisions; unknown
    or blank types degrade to COMPONENT (reference default)."""
    by_type: dict = {t: [] for t in ENTITY_TYPES}
    for s in packed:
        etype, _, name = s.partition("\x00")
        by_type[etype if etype in by_type else "COMPONENT"].append(name)
    names, _, name_to_type = normalize_gazetteer(by_type)
    return names, name_to_type


def _sents_expr():
    """The text sentences of the interleaved span structs, projected
    JVM-side. Only spans.text / spans.kind are referenced
    (GetArrayStructFields), so nested schema pruning reaches the parquet
    scan: ReadSchema becomes struct<kind,text> and media_ref/offset bytes
    are never decoded (filter(spans, s -> ...) would defeat pruning)."""
    return F.transform(
        F.filter(
            F.zip_with(
                F.col("spans").getField("text"),
                F.col("spans").getField("kind"),
                lambda t, k: F.struct(t.alias("t"), k.alias("k")),
            ),
            lambda x: x["k"] == F.lit("text"),
        ),
        lambda x: x["t"],
    ).alias("sents")


def _detect(
    docs, build, schema, validate_format, gazetteer_names=(), gaz_names=None
):
    """documents -> ``schema`` rows through the one Arrow kernel.
    ``build`` turns a batch's per-document ``(doc_id, n_bad, mentions,
    aliases, name_to_type)`` into its output RecordBatch. A row's
    dictionary is its packed ``names`` column when ``gaz_names`` is
    joined in; otherwise ``gazetteer_names`` rides in the task closure
    (broadcast semantics)."""
    default_names, gaz_map, closure_types = normalize_gazetteer(gazetteer_names)
    joined = gaz_names is not None

    def detected(batch):
        import pyarrow as pa

        doc_ids = batch.column("doc_id").to_pylist()
        sents = batch.column("sents")
        if isinstance(sents, pa.ChunkedArray):
            sents = sents.combine_chunks()
        offsets = sents.offsets.to_pylist()
        texts = sents.values.to_pylist()
        packed = batch.column("names").to_pylist() if joined else [None] * len(doc_ids)
        # memoized per batch, not per worker: per-doc dictionaries
        # would otherwise pile up for the life of the process
        unpack = functools.cache(_unpack)
        for r, doc_id in enumerate(doc_ids):
            lines = texts[offsets[r] : offsets[r + 1]]
            # F1 validation in the SAME pass (no extra doc scan): the
            # reference fails the doc; we quarantine it
            n_bad = validate_format and sum(not _line_is_valid(ln) for ln in lines)
            if n_bad:
                yield doc_id, n_bad, (), {}, {}
                continue
            if packed[r] is None:  # closure dictionary, or no JOIN match
                names, types = gaz_map.get(doc_id, default_names), closure_types
            else:
                names, types = unpack(tuple(packed[r]))
            mentions, aliases = detect_doc(lines, _compiled_gaz(names))
            yield doc_id, 0, mentions, aliases, types

    def process(batches):
        import gc

        # the matcher allocates many short-lived acyclic objects per
        # line; cyclic GC adds contention at high core counts for zero
        # reclaim. The worker process is reused and the generator can be
        # closed early or raise, so gc is restored on EVERY exit path;
        # pyspark's daemon runs a full collection after each task
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for batch in batches:
                yield build(detected(batch))
        finally:
            if gc_was_enabled:
                gc.enable()

    slim = docs.select("doc_id", _sents_expr())
    if joined:
        slim = slim.join(gaz_names, "doc_id", "left")
    return slim.mapInArrow(process, schema=schema)


_MENTIONS_ARROW = to_arrow_schema(MENTIONS)
_ENTITIES_ARROW = to_arrow_schema(ENTITIES)


def _mention_batch(detected):
    """'mention' (doc_id, name, sent_no, ref_type, rule), 'alias'
    (doc-induced acronym -> name) and 'quarantined' (F1: sent_no = the
    number of invalid lines) records, one row each."""
    import pyarrow as pa

    rows = []
    for doc_id, n_bad, mentions, aliases, _types in detected:
        if n_bad:
            rows.append((doc_id, "quarantined", "", n_bad, None, "F1", None))
        for sent_no, name, ref, rule in mentions:
            rows.append((doc_id, "mention", name, sent_no, ref, rule, None))
        for acro, name in aliases.items():
            rows.append((doc_id, "alias", name, None, None, "R_ALIAS", acro))
    cols = list(zip(*rows)) or [()] * len(_MENTIONS_ARROW)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, _MENTIONS_ARROW)],
        schema=_MENTIONS_ARROW,
    )


def _entity_batch(detected):
    """Fused per-(doc_id, name) entity rows (none for an F1-invalid
    doc), accumulated columnar: nested columns as flat value + offset
    lists, so no Python dict per occurrence (~18M at 144k docs)."""
    import pyarrow as pa

    col_doc, col_name, col_type = [], [], []
    alt_flat, alt_off = [], [0]
    occ_sent, occ_ref, occ_off = [], [], [0]
    for doc_id, n_bad, mentions, aliases, name_to_type in detected:
        if n_bad:
            continue
        occ_by_name: dict = {}
        for sent_no, name, ref, _rule in mentions:
            occ_by_name.setdefault(name, set()).add((sent_no, ref))
        alias_by_name: dict = {}
        for acro, name in aliases.items():
            alias_by_name.setdefault(name, set()).add(acro)
        for name in sorted(occ_by_name):
            col_doc.append(doc_id)
            col_name.append(name)
            col_type.append(name_to_type.get(name, "COMPONENT"))
            alt_flat.extend(sorted(alias_by_name.get(name, ())))
            alt_off.append(len(alt_flat))
            for s, t in sorted(occ_by_name[name]):
                occ_sent.append(s)
                occ_ref.append(t)
            occ_off.append(len(occ_sent))
    occ = pa.StructArray.from_arrays(
        [pa.array(occ_sent, pa.int32()), pa.array(occ_ref, pa.string())],
        fields=list(_ENTITIES_ARROW.field("occurrences").type.value_type),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(col_doc, pa.string()),
            pa.array(col_name, pa.string()),
            pa.array(col_type, pa.string()),
            pa.ListArray.from_arrays(
                pa.array(alt_off, pa.int32()), pa.array(alt_flat, pa.string())
            ),
            pa.ListArray.from_arrays(pa.array(occ_off, pa.int32()), occ),
        ],
        schema=_ENTITIES_ARROW,
    )


def detect_mentions_df(
    docs: DataFrame,
    gazetteer_names,
    validate_format: bool = False,
) -> DataFrame:
    """documents(doc_id, spans) -> mentions rows (see schema.MENTIONS).

    ``gazetteer_names``: any normalize_gazetteer shape; per-doc
    ``{doc_id: [names]}`` is how the reference evaluates each project
    against its own component list. Emits 'mention' records, 'alias'
    records for doc-induced acronyms (KMS -> Kurento, later joined into
    alternative_names) and, with ``validate_format``, one 'quarantined'
    record per F1-invalid doc. Sentence numbers are 1-indexed positions
    among the doc's text spans, the reference's line numbering
    (model/SoftwareArchitectureDocumentation.java:117-124).
    """
    return _detect(
        docs, _mention_batch, MENTIONS, validate_format, gazetteer_names
    )


def detect_entities_df(
    docs: DataFrame,
    gazetteer_names,
    validate_format: bool = False,
) -> DataFrame:
    """documents -> entities (schema.ENTITIES) with the A1-A4 grouping
    FUSED into the detection pass: entities are (doc_id, name)-local and
    every document lives wholly inside one task, so grouping inside the
    worker removes the corpus-wide mention shuffle entirely — the
    flagship plan has ZERO exchanges (asserted in test_plan_quality).

    Semantics identical to ``assemble_entities(detect_mentions_df(...))``
    (equivalence-tested): occurrences sorted by (sent_no, ref_type) like
    the reference's TreeSet<Occurrence> (model/NamedEntity.java:192-198),
    aliases sorted distinct, alias-only groups dropped.
    """
    return _detect(
        docs, _entity_batch, ENTITIES, validate_format, gazetteer_names
    )


def detect_entities_df_joined(
    docs: DataFrame,
    gaz_df: DataFrame,
    validate_format: bool = False,
    broadcast: bool = False,
) -> DataFrame:
    """Per-document gazetteers as a JOIN instead of a task closure —
    the 100×-scale transport for doc-specific dictionaries.

    ``gaz_df`` is a ``(doc_id, name[, entity_type])`` DataFrame,
    pre-aggregated to one ``(doc_id, names)`` row per doc (one small
    exchange on the dictionary side) and LEFT-joined to the documents on
    doc_id. Docs without dictionary rows get an empty gazetteer, as the
    closure path's ``{doc_id: names}`` does for missing keys
    (parity-tested). ``entity_type`` types entities like the reference
    enum (model/NamedEntityType.java:8); collisions resolve by
    ENTITY_TYPES precedence then name order, as in normalize_gazetteer.

    ``broadcast=True`` suits per-project dictionaries (small distinct
    set): the documents side then never shuffles. With truly per-doc
    dictionaries at 10^9 rows leave it False and let AQE pick a
    sort-merge join — the price of not serializing every dictionary
    into every task binary (the closure path's failure mode).
    """
    # one packed "TYPE\x00name" list crosses the Arrow boundary, not two
    # parallel lists that could zip-drift; a blank or null type is
    # COMPONENT (concat_ws would drop a null type and its separator)
    typed = "entity_type" in gaz_df.columns
    etype = F.coalesce(F.col("entity_type"), F.lit("")) if typed else F.lit("")
    packed = F.concat_ws("\x00", etype, "name")
    gaz_names = gaz_df.groupBy("doc_id").agg(
        F.array_sort(F.array_distinct(F.collect_list(packed))).alias("names")
    )
    if broadcast:
        gaz_names = F.broadcast(gaz_names)
    return _detect(
        docs, _entity_batch, ENTITIES, validate_format, gaz_names=gaz_names
    )
