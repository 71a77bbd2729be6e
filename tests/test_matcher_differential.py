"""Differential test of the matcher's inverted index: ``detect_doc`` with
``GazIndex.candidates()`` must give exactly what it gives when every
entry is a candidate on every line (the brute-force reference form,
no posting lists in the surface-rule pass).

Run on the held-out, adversarial and synthetic corpora, each under a
dictionary padded with ``synth_gazetteer`` names: its 14 shared stems
put thousands of names behind each 6-char prefix, so a compound-rule
probe that is not exact, or a posting list that misses an entry, shows
as a difference. Pure Python, no Spark session.
"""

import pytest

from named_architecture_entity_recognition_spark.operators.matching import (
    GazIndex,
    compile_gazetteer,
    detect_doc,
)
from named_architecture_entity_recognition_spark.synth import (
    _gen_doc,
    synth_gazetteer,
    synth_holdout_adversarial,
    synth_holdout_sad,
)


def _holdout(n):
    docs = [synth_holdout_sad(d)[0] for d in range(8)]
    return synth_holdout_sad(0)[1] + synth_gazetteer(n), docs


def _adversarial(n):
    docs = [synth_holdout_adversarial(d)[0] for d in range(8)]
    typed = synth_holdout_adversarial(0)[1]
    return [x for names in typed.values() for x in names] + synth_gazetteer(n), docs


def _synthetic(n):
    """The 40 seed-42 documents ``synth_documents`` generates, text spans only."""
    names = synth_gazetteer(n)
    docs = [
        [s["text"] for s in _gen_doc(i, 42, names, 12, 197, 0.2, 0.3)["spans"]
         if s["kind"] == "text"]
        for i in range(40)
    ]
    return names, docs


def _compound(n):
    """Ten synthetic documents with "Pool" glued to each sentence's last
    word: a name ending the sentence becomes the head of a longer token
    ("AlphaProvider0Pool"), the one shape that fires R_COMPOUND."""
    names, docs = _synthetic(n)
    return names, [[line[:-1] + "Pool." for line in lines] for lines in docs[:10]]


def _detect_all(docs, gaz):
    gaz.line_cache.clear()
    out = []
    for lines in docs:
        mentions, aliases = detect_doc(lines, gaz)
        out.append((mentions, {k: (n, rx.pattern) for k, (n, rx) in aliases.items()}))
    return out


@pytest.mark.parametrize(
    "corpus, n_names",
    [
        (_holdout, 200),
        (_holdout, 20_000),
        (_adversarial, 200),
        (_adversarial, 20_000),
        (_synthetic, 200),
        (_synthetic, 2_000),
        (_compound, 2_000),
    ],
    ids=lambda v: getattr(v, "__name__", str(v)).lstrip("_"),
)
def test_detect_doc_with_index_equals_brute_force(corpus, n_names, monkeypatch):
    names, docs = corpus(n_names)
    gaz = compile_gazetteer(names)
    indexed = _detect_all(docs, gaz)
    monkeypatch.setattr(GazIndex, "candidates", lambda self, lv: self.entries)
    brute = _detect_all(docs, gaz)
    rules = {rule for mentions, _ in indexed for *_, rule in mentions}
    assert "R_EXACT" in rules and (corpus is not _compound or "R_COMPOUND" in rules)
    for d, (got, want) in enumerate(zip(indexed, brute)):
        assert got == want, f"doc {d} differs at {n_names} names"
