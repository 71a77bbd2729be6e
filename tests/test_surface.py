"""The package surface: every function has a code caller or a stated
reason to exist, and the benchmark's calls into the package still bind.

Both checks read source with ``ast``, so docstrings and comments never
count as a use, and neither starts Spark.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG_NAME = "named_architecture_entity_recognition_spark"
PKG = REPO / PKG_NAME
#: every file whose code counts as a production caller
CALLERS = [
    *PKG.rglob("*.py"),
    *(REPO / "tools").rglob("*.py"),
    *(REPO / "perfbench").glob("*.py"),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]

#: functions with no production caller, each kept for a stated reason:
#: the SURVEY §2 reference operator it mirrors (row id), a reference
#: form that tests compare a kernel against, or a carried-over item
KEEP = {
    "functions.jaccard.best_line_number":
        "J1/A7: reference getLineNumber, argmax over char-Jaccard",
    "operators.dedup.simhash64":
        "reference form: the SimHash kernel is tested against it",
    "operators.cc.canonicalize_corpus":
        "J3: cross-document entity linking, CC over name/alias edges",
    "operators.cc.sameas_triples": "J3: the linked entities as sameAs triples",
    "operators.entities.change_name": "P5: reference changeName",
    "operators.entities.dedup_entities": "A3: LinkedHashSet dedup",
    "operators.entities.occurrence_lines": "A2: getOccurrenceLines",
    "operators.entities.flatten_occurrences":
        "A5: SimpleComponentOccurrence flattening",
    "operators.sentences.validate_documents":
        "F1: reference checkTextFormat, per-document verdict",
    "operators.sentences.get_line": "F2: reference getLine",
    "operators.sentences.reassemble_text": "F3: reference getText",
    "operators.similarity.hyperplane_bucket":
        "reference form: the hyperplane kernel is tested against it",
    "operators.sketch.kmv_merge_expr":
        "reference form: merge-of-parts is tested against the sketch"
        " of the whole",
    "operators.sketch.hist_merge_expr":
        "reference form: merge-of-parts is tested against the sketch"
        " of the whole",
    "parsers.answers.parse_json_answers": "P1: NamedEntityParser JSON",
    "parsers.answers.resolve_parsed":
        "J1/J2 + F5: parsed occurrences resolved, -1 dropped",
    "plans.lineage.StageCheckpoint.completed_buckets":
        "A6: the per-stage resume state the lineage tests read",
    "plans.recognizer.NamedEntityRecognizer.Builder.build":
        "E1/E2: reference NamedEntityRecognizer.Builder.build",
    "plans.recognizer.NamedEntityRecognizer.recognize":
        "E1/E2: reference NamedEntityRecognizer.recognize",
    "plans.recognizer.NamedEntityRecognizer.recognize_triples":
        "S7: recognize's entity set as triples",
    "sources.csv_sources.read_gold_csv": "S3: gold-standard CSV scan",
    "sources.csv_sources.gazetteer_from_names":
        "S4: the gazetteer TreeSet as a table",
    "sources.lakehouse.write_bucketed":
        "carried-over BM25 item: persists the postings",
    "sources.sad.read_sad_files": "S1: SAD file scan",
    "sources.sad.discover_projects": "S8: directory discovery",
    "sources.sad.documents_from_text": "S2: SAD string scan",
}


def _used_names() -> tuple:
    """(names, attributes) that code uses. ``names``: Name ids,
    attribute names and the last component of every imported name, what
    a top-level function can be reached by. ``attributes``: attribute
    names only (``x.name``), the one way a method is reached."""
    names, attributes = set(), set()
    for path in CALLERS:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                attributes.add(node.attr)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return names | attributes, attributes


def _package_defs() -> dict:
    """{dotted name: (bare name, is_method)} of every top-level function
    and every non-dunder method of a class in the package, nested
    classes included."""
    out = {}

    def walk(prefix, body, in_class):
        for node in body:
            if isinstance(node, ast.FunctionDef) and not (
                in_class and node.name.startswith("__")
            ):
                out[f"{prefix}.{node.name}"] = (node.name, in_class)
            elif isinstance(node, ast.ClassDef):
                walk(f"{prefix}.{node.name}", node.body, True)

    for path in PKG.rglob("*.py"):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        walk(mod, ast.parse(path.read_text()).body, False)
    return out


def test_every_function_has_a_caller_or_a_kept_reason():
    defs = _package_defs()
    names, attributes = _used_names()
    unreferenced = {
        q for q, (name, is_method) in defs.items()
        if name not in (attributes if is_method else names)
    }
    orphans = sorted(unreferenced - KEEP.keys())
    assert not orphans, f"no production caller and not kept: {orphans}"
    gone = sorted(KEEP.keys() - defs.keys())
    assert not gone, f"kept but no longer defined: {gone}"
    called = sorted(KEEP.keys() - unreferenced)
    assert not called, f"kept but now called, drop from KEEP: {called}"


# ------------------------------------------------- perfbench signatures


def _perfbench_calls():
    """(file:line, callee, n_positional, keywords) for every call in
    perfbench/*.py to a function or class imported from the package,
    to a function of an imported package module, or to a method of an
    instance of an imported package class. Calls that splat
    ``*args``/``**kwargs`` cannot be bound statically and are skipped."""
    calls = []
    for path in sorted((REPO / "perfbench").glob("*.py")):
        tree = ast.parse(path.read_text())
        names, modules = {}, {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith(PKG_NAME):
                mod = importlib.import_module(node.module)
                for a in node.names:
                    obj = getattr(mod, a.name, None) or importlib.import_module(
                        f"{node.module}.{a.name}"
                    )
                    local = a.asname or a.name
                    if inspect.ismodule(obj):
                        modules[local] = obj
                    else:
                        names[local] = obj
        instances = {}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Name)
                and inspect.isclass(names.get(node.value.func.id))
            ):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        instances[t.id] = names[node.value.func.id]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or any(
                isinstance(a, ast.Starred) for a in node.args
            ) or any(k.arg is None for k in node.keywords):
                continue
            f, owner = node.func, getattr(node.func, "value", None)
            owner = getattr(owner, "id", None)
            n_self = 0
            if isinstance(f, ast.Name) and f.id in names:
                fn = names[f.id]
            elif isinstance(f, ast.Attribute) and owner in modules:
                fn = getattr(modules[owner], f.attr)
            elif isinstance(f, ast.Attribute) and owner in instances:
                # a method looked up on the class binds self first
                fn, n_self = getattr(instances[owner], f.attr), 1
            else:
                continue
            calls.append((
                f"{path.name}:{node.lineno}", fn,
                len(node.args) + n_self, [k.arg for k in node.keywords],
            ))
    return calls


def _binds(fn, n_pos: int, keywords: list) -> None:
    inspect.signature(fn).bind(*[None] * n_pos, **dict.fromkeys(keywords))


def test_perfbench_calls_bind_to_package_signatures():
    calls = _perfbench_calls()
    callees = {getattr(fn, "__qualname__", fn) for _, fn, _, _ in calls}
    # the calls the two workloads are built from
    for name in ("prepare_corpus", "write_triples", "read_documents",
                 "RecognizerPipeline", "RecognizerPipeline.triples",
                 "synth_documents", "get_spark"):
        assert name in callees, name
    for where, fn, n_pos, keywords in calls:
        try:
            _binds(fn, n_pos, keywords)
        except TypeError as e:
            raise AssertionError(f"{where}: {fn.__qualname__}: {e}") from e

    # calls through aliases: the perfbench/tracing.py wrappers call
    # orig_run(self, compute, inputs, key) and orig_cc(edges, stats={}),
    # and Resume.call runs self._pipeline(docs, gaz, root, n_buckets=)
    from named_architecture_entity_recognition_spark.operators.cc import (
        connected_components,
    )
    from named_architecture_entity_recognition_spark.plans.lineage import (
        StageCheckpoint,
        checkpointed_pipeline,
    )

    _binds(StageCheckpoint.run, 4, [])
    _binds(connected_components, 1, ["stats"])
    _binds(checkpointed_pipeline, 3, ["n_buckets"])
