"""Dev harness: measure matcher P/R against the reference gold CSVs.

Runs the pure-Python doc-local matcher (the same code the Spark
mapInArrow kernel executes) over the 5 ArDoCo benchmark SADs and
prints per-project precision/recall after the reference's own
evaluation normalization (TestProjectEvaluator.java:40-43,209-238:
lowercase + strip the word 'component').

Usage: python tools/tune_matcher.py [-v]
"""

from __future__ import annotations

import re
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from named_architecture_entity_recognition_spark.operators.matching import (
    compile_gazetteer,
    detect_mentions,
)

BASE = Path("/root/reference/src/test/resources/evaluation_resources")


def clean_component_name(name: str) -> str:
    return re.sub(r"\s+", " ", re.sub(r"(?i)\bcomponent\b", "", name)).strip()


def load_project(proj: str):
    d = BASE / proj
    sad_dir = next(p for p in d.iterdir() if p.is_dir() and "text_" in p.name)
    sad = next(p for p in sad_dir.iterdir() if p.name.endswith("_1SentPerLine.txt"))
    lines = sad.read_text().splitlines()
    gold = set()
    for ln in (d / "goldstandards" / "goldstandard_NER.csv").read_text().splitlines()[1:]:
        if ln.strip():
            n, s = ln.split(",")
            gold.add((clean_component_name(n.strip()).lower(), int(s.strip())))
    model_dir = next(p for p in d.iterdir() if p.is_dir() and p.name.startswith("model_"))
    gaz = sorted(
        {
            parts[1].strip()
            for ln in (model_dir / "uml" / "modelElementID_to_ComponentName.csv")
            .read_text()
            .splitlines()[1:]
            if len(parts := ln.split(",")) >= 2 and parts[1].strip()
        }
    )
    return lines, gold, gaz


def main(verbose: bool = False):
    tot_tp = tot_fp = tot_fn = 0
    for proj in sorted(p.name for p in BASE.iterdir() if p.is_dir()):
        lines, gold, gaz_names = load_project(proj)
        gaz = compile_gazetteer(gaz_names)
        mentions = detect_mentions(lines, gaz)
        rec = {(clean_component_name(name).lower(), sent) for sent, name, _, _ in mentions}
        rules = {}
        for sent, name, _, rule in mentions:
            rules[(clean_component_name(name).lower(), sent)] = rule
        tp, fp, fn = len(rec & gold), len(rec - gold), len(gold - rec)
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        tot_tp += tp
        tot_fp += fp
        tot_fn += fn
        print(f"{proj:15s} P={p:.3f} R={r:.3f} F1={f1:.3f}  TP={tp} FP={fp} FN={fn}")
        if verbose:
            for key in sorted(rec - gold):
                print(f"    FP {key} [{rules[key]}]  :: {lines[key[1]-1][:100]}")
            for key in sorted(gold - rec):
                print(f"    FN {key}  :: {lines[key[1]-1][:100]}")
    p = tot_tp / (tot_tp + tot_fp)
    r = tot_tp / (tot_tp + tot_fn)
    print(f"{'TOTAL':15s} P={p:.3f} R={r:.3f} F1={2*p*r/(p+r):.3f}")


if __name__ == "__main__":
    main(verbose="-v" in sys.argv)
