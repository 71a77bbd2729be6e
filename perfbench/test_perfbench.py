"""The benchmark's own tests: every output check fails on a corrupted
output, and every workload runs at a tiny size and prints every metric
of BENCHMARK.json with its unit.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import checks  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TRIPLES = [
    ("doc1#alpha", "instanceOf", "COMPONENT"),
    ("doc1#alpha", "hasName", "Alpha"),
    ("doc1#alpha", "occursIn", "doc1#s1#DIRECT"),
    ("doc2#beta", "hasName", "Beta"),
]


@pytest.fixture(scope="module")
def spark():
    from named_architecture_entity_recognition_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_multiset_check(spark):
    want = _df(spark, TRIPLES)
    assert checks.multiset_problem(_df(spark, list(reversed(TRIPLES))), want) is None
    assert checks.multiset_problem(_df(spark, TRIPLES[:-1]), want)  # row lost
    assert checks.multiset_problem(_df(spark, TRIPLES + TRIPLES[:1]), want)  # duplicated
    changed = TRIPLES[:-1] + [("doc2#beta", "hasName", "Gamma")]
    assert checks.multiset_problem(_df(spark, changed), want)


def _write_sink(path, rows):
    """``rows`` as a sink-shaped table: parquet files partitioned by
    ``pred`` and ``subj_bucket`` directories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, (subj, pred, obj) in enumerate(rows):
        part = path / f"pred={pred}" / f"subj_bucket={len(subj) % 2}"
        part.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"subj": [subj], "obj": [obj]}), str(part / f"part-{i}.parquet"))


def test_sink_check(tmp_path):
    _write_sink(tmp_path / "want", TRIPLES)
    want = checks.sorted_triples(tmp_path / "want")
    assert len(want) == len(TRIPLES)

    def problem(name, rows):
        _write_sink(tmp_path / name, rows)
        return checks.sorted_problem(checks.sorted_triples(tmp_path / name), want)

    assert problem("same", list(reversed(TRIPLES))) is None
    assert problem("lost", TRIPLES[:-1])  # row lost
    assert problem("dup", TRIPLES + TRIPLES[:1])  # duplicated
    assert problem("changed", TRIPLES[:-1] + [("doc2#beta", "hasName", "Gamma")])


def test_lookup_check():
    rows = [dict(zip(checks.TRIPLE_COLS, t)) for t in TRIPLES[:3]]
    assert checks.lookup_problem(rows, TRIPLES[:3]) is None
    assert checks.lookup_problem(rows[:2], TRIPLES[:3])  # row lost
    assert checks.lookup_problem(rows + rows[:1], TRIPLES[:3])  # duplicated
    assert checks.lookup_problem(rows, TRIPLES[:2] + TRIPLES[3:])  # wrong subject


def test_resume_check(spark):
    want = _df(spark, TRIPLES)
    assert checks.resume_problem(_df(spark, TRIPLES), want, 6, 6) is None
    assert checks.resume_problem(_df(spark, TRIPLES), want, 5, 6)  # bucket not redone
    assert checks.resume_problem(_df(spark, TRIPLES + TRIPLES), want, 6, 6)  # duplicates


def test_corpus_check():
    ids = ["d1", "d2", "d3", "d4"]
    cluster_of = {"d1": "d1", "d2": "d1", "d3": "d3", "d4": "d3"}
    good = [("d1", "kept"), ("d2", "near_dup"), ("d3", "kept"), ("d4", "near_dup")]
    assert checks.corpus_problem(good, ids, cluster_of) is None
    assert checks.corpus_problem(good[:-1], ids, cluster_of)  # doc lost
    assert checks.corpus_problem(good + good[:1], ids, cluster_of)  # doc twice
    rep_dropped = [("d1", "quality")] + good[1:]
    assert checks.corpus_problem(rep_dropped, ids, cluster_of)
    assert checks.corpus_problem(list(reversed(good)), ids, cluster_of, good) is None
    verdict_changed = good[:2] + [("d3", "kept"), ("d4", "kept")]
    assert checks.corpus_problem(verdict_changed, ids, cluster_of, good)


def test_clusters_table(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "clusters").mkdir()
    pq.write_table(
        pa.table({"doc_id": ["d1", "d2"], "cluster_id": ["d1", "d1"]}),
        str(tmp_path / "clusters" / "part-0.parquet"),
    )
    assert checks.clusters(tmp_path) == {"d1": "d1", "d2": "d1"}


#: kg_resume runs by hand only (DESIGN.md) but must keep working
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["kg_resume"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload, trace):
    out = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.1",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert result["metrics"]["passed_frac"]["value"] == 1.0
