"""Config-ablation harness — the engine's analogue of the reference's
prompt-ablation methodology (13 prompt/model configs in
/root/reference/src/test/resources/.../more-test-configs.json, varying
prompt strategy / temperature / model per project and printing metrics
per config).

The deterministic engine's configuration surface is MatcherConfig, so
the sweep ablates each matcher rule family (and narrows the token
window) and reports P/R/F1 per (config x project) over the five ArDoCo
benchmark projects plus the held-out synthetic suite. Output: a table
to stdout and one JSON line (machine-readable, same spirit as
bench.py) so results land in committed artifacts, not prose.

Usage: python tools/ablation.py [-v]
"""

from __future__ import annotations

import json
import sys
from dataclasses import replace
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from named_architecture_entity_recognition_spark.operators.matching import (
    MatcherConfig,
    compile_gazetteer,
    detect_mentions,
)
from named_architecture_entity_recognition_spark.synth import (
    synth_holdout_adversarial,
    synth_holdout_sad,
)
from tune_matcher import clean_component_name, load_project

BASE = Path("/root/reference/src/test/resources/evaluation_resources")

# named ablations: each drops one rule family or narrows the token
# window of the full config (the engine's "prompt variants")
ABLATIONS: dict[str, dict] = {
    "full": {},
    "no_fuzzy": {"enable_fuzzy": False},
    "no_stem": {"enable_stem": False},
    "no_pronoun": {"enable_pronoun": False},
    "no_head_noun": {"enable_head_noun": False},
    "no_alias_induction": {"enable_alias_induction": False},
    "window_2": {"max_window": 2},
}


def _projects():
    for proj in sorted(p.name for p in BASE.iterdir() if p.is_dir()):
        lines, gold, gaz = load_project(proj)
        yield proj, lines, gaz, gold
    # held-out synthetic docs as a sixth "project"
    tp_lines, tp_gaz, tp_gold = [], None, set()
    off = 0
    for d in range(8):
        lines, gaz, gold = synth_holdout_sad(d)
        tp_lines.append(lines)
        tp_gaz = gaz
        tp_gold |= {(n, s, d) for n, s in gold}
    yield "holdout(8 docs)", tp_lines, tp_gaz, tp_gold
    # adversarial held-out (r4): distractor pairs, acronym collision,
    # pronoun switches — as an eighth "project"
    adv_lines, adv_gaz, adv_gold = [], None, set()
    for d in range(8):
        lines, gaz_map, gold, _ = synth_holdout_adversarial(d)
        adv_lines.append(lines)
        adv_gaz = [n for v in gaz_map.values() for n in v]
        adv_gold |= {(n, s, d) for n, s in gold}
    yield "adversarial(8 docs)", adv_lines, adv_gaz, adv_gold


def _score_config(cfg: MatcherConfig, lines, gaz_names, gold):
    gaz = compile_gazetteer(gaz_names, cfg)
    if isinstance(lines[0], list):  # multi-doc project (holdout)
        rec = set()
        for d, doc_lines in enumerate(lines):
            rec |= {
                (clean_component_name(n).lower(), s, d)
                for s, n, _, _ in detect_mentions(doc_lines, gaz)
            }
    else:
        rec = {
            (clean_component_name(n).lower(), s)
            for s, n, _, _ in detect_mentions(lines, gaz)
        }
    tp, fp, fn = len(rec & gold), len(rec - gold), len(gold - rec)
    return tp, fp, fn


def main(verbose: bool = False):
    data = list(_projects())
    results: dict = {}
    for name, overrides in ABLATIONS.items():
        cfg = replace(MatcherConfig(), **overrides)
        tot_tp = tot_fp = tot_fn = 0
        per_proj = {}
        for proj, lines, gaz_names, gold in data:
            tp, fp, fn = _score_config(cfg, lines, gaz_names, gold)
            tot_tp += tp
            tot_fp += fp
            tot_fn += fn
            p = tp / (tp + fp) if tp + fp else 0.0
            r = tp / (tp + fn) if tp + fn else 0.0
            per_proj[proj] = {"p": round(p, 4), "r": round(r, 4)}
        p = tot_tp / (tot_tp + tot_fp) if tot_tp + tot_fp else 0.0
        r = tot_tp / (tot_tp + tot_fn) if tot_tp + tot_fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        results[name] = {
            "p": round(p, 4),
            "r": round(r, 4),
            "f1": round(f1, 4),
            "projects": per_proj,
        }
        print(f"{name:20s} P={p:.4f} R={r:.4f} F1={f1:.4f}")
        if verbose:
            for proj, m in per_proj.items():
                print(f"    {proj:18s} P={m['p']:.3f} R={m['r']:.3f}")
    print(json.dumps({"ablations": results}))
    return results


if __name__ == "__main__":
    main(verbose="-v" in sys.argv)
