from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

EVAL_RESOURCES = Path(
    "/root/reference/src/test/resources/evaluation_resources"
)

#: gates that read the ArDoCo reference corpus skip with a reason naming
#: the missing path, so the summary shows which of them did not run
requires_corpus = pytest.mark.skipif(
    not EVAL_RESOURCES.exists(),
    reason=f"ArDoCo reference corpus absent: {EVAL_RESOURCES}",
)


@pytest.fixture(scope="session")
def spark():
    from named_architecture_entity_recognition_spark.session import get_spark

    s = get_spark(
        "naer-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


def load_benchmark_project(proj: str):
    """(sentences, gazetteer names, gold pairs) for one ArDoCo project."""
    d = EVAL_RESOURCES / proj
    sad_dir = next(p for p in d.iterdir() if p.is_dir() and "text_" in p.name)
    sad = next(p for p in sad_dir.iterdir() if p.name.endswith("_1SentPerLine.txt"))
    lines = sad.read_text().splitlines()
    gold = []
    for ln in (d / "goldstandards" / "goldstandard_NER.csv").read_text().splitlines()[1:]:
        if ln.strip():
            n, s = ln.split(",")
            gold.append((n.strip(), int(s.strip())))
    model_dir = next(
        p for p in d.iterdir() if p.is_dir() and p.name.startswith("model_")
    )
    gaz = sorted(
        {
            parts[1].strip()
            for ln in (model_dir / "uml" / "modelElementID_to_ComponentName.csv")
            .read_text()
            .splitlines()[1:]
            if len(parts := ln.split(",")) >= 2 and parts[1].strip()
        }
    )
    return lines, gaz, gold


BENCHMARK_PROJECTS = [
    p.name for p in sorted(EVAL_RESOURCES.iterdir()) if p.is_dir()
] if EVAL_RESOURCES.exists() else []


def clean_name(name: str) -> str:
    return re.sub(r"\s+", " ", re.sub(r"(?i)\bcomponent\b", "", name)).strip()
