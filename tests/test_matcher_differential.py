"""Differential test of the matcher's inverted index: ``detect_doc`` with
``GazIndex.candidates()`` must give exactly what it gives when every
entry is a candidate on every line (the brute-force reference form,
no posting lists in the surface-rule pass).

Run on the held-out, adversarial and synthetic corpora, each under a
dictionary padded with ``synth_gazetteer`` names: its 14 shared stems
put thousands of names behind each 6-char prefix, so a compound-rule
probe that is not exact, or a posting list that misses an entry, shows
as a difference.

A second differential pins the doc-level acronym rules, which
``detect_doc`` folds from cached per-line facts, to a reference that
scans every line against every entry. Pure Python, no Spark session.
"""

import random
import re

import pytest

from named_architecture_entity_recognition_spark.operators.matching import (
    GazIndex,
    LineView,
    _boundary_pattern,
    acronym_of,
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
    return [detect_doc(lines, gaz) for lines in docs]


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


# the reference form of the doc-level acronym scans: every line of the
# doc, every dictionary entry, no line cache
_DEFINITION = re.compile(
    r"((?:[A-Z][A-Za-z0-9]*\s+){1,3}[A-Z][A-Za-z0-9]*)\s+\(?([A-Z]{2,6})\)?"
)


def _reference_aliases(lines, gaz):
    """``(aliases, comentions)``: each acronym defined by a capitalized
    phrase whose trimmed initials spell it and which surface-matches a
    name (first definition, then first entry, wins); and for each
    all-caps name spelled out as an initials window, the other names
    inside that window."""
    aliases, comentions = {}, {}
    for line in lines:
        if not line:
            continue
        for m in _DEFINITION.finditer(line):
            words, acro = m.group(1).split(), m.group(2)
            subs = [words[k:] for k in range(len(words) - 1)
                    if "".join(w[0] for w in words[k:]).upper() == acro]
            for entry in gaz.entries if subs else ():
                if entry.ci_regex.search(" ".join(subs[0])):
                    aliases.setdefault(acro, entry.name)
        lv = LineView(line)
        for key, (i, j) in lv.initials_windows().items():
            expansion = " ".join(lv.words[i : j + 1])
            for entry in gaz.entries:
                if (entry.strict is None and entry.name.isupper()
                        and 3 <= len(entry.norm) and entry.norm == key):
                    for other in gaz.entries:
                        if other.name != entry.name and other.ci_regex.search(expansion):
                            comentions.setdefault(entry.name, set()).add(other.name)
    return aliases, comentions


def _reference_rows(lines, mentions, aliases, comentions):
    """The R_ALIAS and R_COMENTION rows the reference maps add on top of
    the doc's other surface rows."""
    surface = {}
    for sent_no, name, _ref, rule in mentions:
        if rule not in ("R_ALIAS", "R_COMENTION", "R_PRONOUN", "R_DEMONSTRATIVE"):
            surface.setdefault(sent_no, []).append((name, rule))
    rows = []
    for sent_no, line in enumerate(lines, 1):
        kept = surface.get(sent_no, [])
        names = {n for n, _ in kept}
        for acro, name in aliases.items() if line else ():
            if name not in names and re.search(_boundary_pattern(acro), line):
                rows.append((sent_no, name, "DIRECT", "R_ALIAS"))
        here = names | {r[1] for r in rows if r[0] == sent_no}
        for name, rule in kept:
            for other in sorted(comentions.get(name, ())) if rule == "R_EXACT" else ():
                if other not in here:
                    rows.append((sent_no, other, "INDIRECT", "R_COMENTION"))
                    here.add(other)
    return rows


def _acronyms(_n):
    """Docs that define acronyms of random capitalized phrases, spell
    dictionary acronyms out around dictionary names, and use both bare,
    in random line order. Each name has a twin with its initial, so one
    acronym can be defined for two names and the first definition wins."""
    rng = random.Random(5)
    twin = {"FreeSWITCH": "Fabric", "Nebula": "Nimbus", "Orbit": "Onyx"}
    twin.update({v: k for k, v in twin.items()})
    named = list(twin)
    filler = ["Media", "Server", "Event", "Socket", "Layer", "Cache", "Queue", "Bridge"]
    phrases = []
    for _ in range(40):
        words = [rng.choice(named)] + rng.sample(filler, rng.randint(1, 2))
        rng.shuffle(words)
        phrases.append(" ".join(words))
    defn = {p: "".join(w[0] for w in p.split()) for p in phrases}
    spelled = {p: "".join(acronym_of(w) for w in p.split()) for p in phrases}
    names = named + ["Media Server"] + sorted(
        {a for a in spelled.values() if 3 <= len(a) <= 6 and rng.random() < 0.6}
    )
    docs = []
    for _ in range(40):
        lines = []
        for _ in range(rng.randint(4, 12)):
            p = rng.choice(phrases)
            lines.append(rng.choice([
                f"The {p} ({defn[p]}) handles requests.",
                f"{p} {defn[p]} is the core.",
                " ".join(twin.get(w, w) for w in p.split()) + f" {defn[p]} is the core.",
                f"Requests reach {defn[p]} first.",
                f"{spelled[p]} restarts nightly.",
                "It processes the incoming data.",
                "",
            ]))
        docs.append(lines)
    return names, docs


@pytest.mark.parametrize(
    "corpus, n_names",
    [
        (_holdout, 200),
        (_holdout, 20_000),
        (_adversarial, 200),
        (_adversarial, 20_000),
        (_acronyms, 0),
    ],
    ids=lambda v: getattr(v, "__name__", str(v)).lstrip("_"),
)
def test_doc_level_aliases_equal_the_every_line_reference(corpus, n_names):
    names, docs = corpus(n_names)
    gaz = compile_gazetteer(names)
    fired = set()
    for cache in ("cold", "warm"):
        for d, lines in enumerate(docs):
            mentions, aliases = detect_doc(lines, gaz)
            want_aliases, comentions = _reference_aliases(lines, gaz)
            assert aliases == want_aliases, f"doc {d} ({cache})"
            got = [m for m in mentions if m[3] in ("R_ALIAS", "R_COMENTION")]
            assert got == _reference_rows(lines, mentions, want_aliases, comentions), (
                f"doc {d} ({cache})"
            )
            fired |= {m[3] for m in got}
    assert "R_ALIAS" in fired and (corpus is not _acronyms or "R_COMENTION" in fired)
