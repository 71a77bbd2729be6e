"""Text statistics operators (operators/textstats.py)."""

import re

from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.textstats import (
    _LANG_MARKERS,
    lang_id,
)


def _lang_reference(text):
    """Marker counts per language over the non-empty lowercased
    whitespace tokens; the first language with the largest count wins,
    'und' when no marker hits."""
    toks = [w for w in re.split(r"\s+", (text or "").lower()) if w]
    best, best_n = "und", 0
    for lang, markers in _LANG_MARKERS.items():
        n = sum(w in markers for w in toks)
        if n > best_n:
            best, best_n = lang, n
    return best


def test_lang_id_matches_python_argmax(spark):
    """Adversarial rows: 'la' counts for both fr and es, ties between
    languages, the one-letter marker 'y', NULL, whitespace-only, and a
    word that is a marker only as a substring."""
    rows = [
        "la",                      # fr/es tie at 1: fr is listed first
        "la la y",                 # es 3 beats fr 2
        "le la el los",            # fr 2, es 3
        "y",
        "Y Y the",                 # case folds: es 2 beats en 1
        "the der",                 # en/de tie: en first
        "der die das the",
        "und und le le",           # de/fr tie: de first
        "theory island yes",       # markers only as substrings: und
        None,
        "   ",
        "\t\n",
        "",
        "  the\tand  of  ",        # whitespace runs and tabs
    ]
    df = spark.createDataFrame(list(enumerate(rows)), "id int, text string")
    got = {
        r.id: r.lang
        for r in df.select("id", lang_id(F.col("text")).alias("lang")).collect()
    }
    want = {i: _lang_reference(t) for i, t in enumerate(rows)}
    assert got == want
    # the rows reach every verdict, so a wrong tie rule cannot pass
    assert set(want.values()) == {"en", "de", "fr", "es", "und"}
