"""Property test for the inverted-index candidate generation: for ANY
gazetteer and line, every entry that would produce a surface match must
appear in GazIndex.candidates() — the index may over-approximate but
never under-approximate (else mentions are silently lost).

Pure-Python (no Spark session), so hypothesis can run many examples.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from named_architecture_entity_recognition_spark.functions.jaccard import (
    JACCARD_THRESHOLD,
    char_jaccard,
)
from named_architecture_entity_recognition_spark.operators.matching import (
    GazIndex,
    LineView,
    MatcherConfig,
    _surface_matches,
    compile_gazetteer,
)

CFG = MatcherConfig()

name_part = st.sampled_from(
    ["Alpha", "BBB", "WebRTC", "Hub", "Provider", "FSESL", "client",
     "logic", "pro14", "Data", "Store", "X9"]
)
name_strategy = st.builds(
    lambda parts, sep: sep.join(parts),
    st.lists(name_part, min_size=1, max_size=3),
    st.sampled_from([" ", "-", ""]),
)

word = st.sampled_from(
    ["the", "Alpha", "BBBHub", "bbb-hub", "WebRTC", "web", "rtc",
     "AlphaProvider", "alphaprovider", "fsels", "FSESL", "client",
     "Provider", "pro14", "DataStore", "datastores", "X9", "connects",
     "to", "It", "processes", "requests", "provider's", "A.B",
     "BigBlueButton", "Alpha Provider", "re-encoding",
     # compounds: a name norm of >= 6 chars as the head of a longer
     # token ("Provider" in "ProviderHub"), the R_COMPOUND shape
     "ProviderHub", "WebRTCGateway", "AlphaProviderStore", "datastorehub"]
)
line_strategy = st.builds(
    lambda ws: " ".join(ws) + ".",
    st.lists(word, min_size=1, max_size=12),
)


@settings(max_examples=300, deadline=None)
@given(
    names=st.lists(name_strategy, min_size=1, max_size=12, unique=True),
    line=line_strategy,
)
def test_candidates_never_drop_a_matching_entry(names, line):
    gaz = compile_gazetteer(names, CFG)
    assert isinstance(gaz, GazIndex)
    lv = LineView(line)
    cand_ids = {id(e) for e in gaz.candidates(lv)}
    for entry in gaz.entries:
        if _surface_matches(lv, entry):
            assert id(entry) in cand_ids, (
                f"entry {entry.name!r} matches line {line!r} "
                f"but was not generated as a candidate"
            )


cfg_strategy = st.builds(
    MatcherConfig,
    max_window=st.sampled_from([3, 4]),
    enable_head_noun=st.booleans(),
    enable_pronoun=st.booleans(),
    enable_fuzzy=st.booleans(),
    enable_stem=st.booleans(),
    enable_alias_induction=st.booleans(),
)


@settings(max_examples=150, deadline=None)
@given(
    names=st.lists(name_strategy, min_size=1, max_size=8, unique=True),
    line=line_strategy,
    cfg=cfg_strategy,
)
def test_candidates_never_drop_under_any_config(names, line, cfg):
    """Same no-under-approximation invariant at NON-default configs
    (window narrowed, rules toggled) — the index posting lists must stay
    complete for whatever cfg they were compiled with."""
    gaz = compile_gazetteer(names, cfg)
    lv = LineView(line, cfg.max_window)
    cand_ids = {id(e) for e in gaz.candidates(lv)}
    for entry in gaz.entries:
        if _surface_matches(lv, entry):
            assert id(entry) in cand_ids, (
                f"entry {entry.name!r} matches line {line!r} under "
                f"{cfg} but was not generated as a candidate"
            )


#: the rules each enable_* flag switches off
_RULES_OF_FLAG = {
    "enable_fuzzy": {"R_FUZZY"},
    "enable_stem": {"R_STEM"},
    "enable_head_noun": {"R_HEAD", "R_CAMEL_HEAD"},
    "enable_pronoun": {"R_PRONOUN", "R_DEMONSTRATIVE"},
    "enable_alias_induction": {"R_ALIAS", "R_COMENTION"},
}


@settings(max_examples=100, deadline=None)
@given(
    names=st.lists(name_strategy, min_size=1, max_size=8, unique=True),
    lines=st.lists(line_strategy, min_size=1, max_size=3),
    cfg=cfg_strategy,
)
def test_detect_doc_runs_under_the_compiled_config(names, lines, cfg):
    """detect_doc takes its config from the compiled gazetteer: a rule
    family switched off at compile time never fires."""
    from named_architecture_entity_recognition_spark.operators.matching import (
        detect_doc,
    )

    mentions, aliases = detect_doc(
        lines + ["It processes requests."], compile_gazetteer(names, cfg)
    )
    off = set().union(
        *(rules for flag, rules in _RULES_OF_FLAG.items()
          if not getattr(cfg, flag))
    )
    assert not {rule for _, _, _, rule in mentions} & off
    assert cfg.enable_alias_induction or not aliases


@settings(max_examples=300, deadline=None)
@given(norm=st.text(alphabet="abcdefg", min_size=4, max_size=6), data=st.data())
def test_fuzzy_threshold_holds_only_for_equal_char_sets(norm, data):
    """The premise of R_FUZZY's char-set posting key: for a 4-6 char
    norm and a window one char longer or shorter with the same first
    char, char-Jaccard reaches JACCARD_THRESHOLD exactly when the two
    char sets are equal (unequal sets score at most 6/7)."""
    size = data.draw(st.integers(len(norm) - 1, len(norm) + 1))
    rest = st.lists(
        st.sampled_from(sorted(set(norm) | {"z"})), min_size=size - 1, max_size=size - 1
    )
    acc = norm[0] + "".join(data.draw(rest))
    assert (char_jaccard(acc, norm) >= JACCARD_THRESHOLD) == (set(acc) == set(norm))


@settings(max_examples=100, deadline=None)
@given(
    names=st.lists(name_strategy, min_size=1, max_size=8, unique=True),
    line=line_strategy,
)
def test_candidates_deterministic_and_ordered(names, line):
    gaz = compile_gazetteer(names, CFG)
    lv = LineView(line)
    c1 = [e.name for e in gaz.candidates(lv)]
    c2 = [e.name for e in gaz.candidates(LineView(line))]
    assert c1 == c2
    order = {e.name: i for i, e in enumerate(gaz.entries)}
    assert c1 == sorted(c1, key=order.__getitem__)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=120,
        ),
        max_size=12,
    )
)
def test_detect_doc_never_crashes_and_emits_valid_rows(lines):
    """Fuzz the cold path with arbitrary unicode lines (control chars,
    emoji, RTL, empties): detect_doc must never raise, and every
    emitted mention must reference a real 1-indexed line, a gazetteer
    name, and a valid ref type."""
    from named_architecture_entity_recognition_spark.operators.matching import (
        MatcherConfig,
        compile_gazetteer,
        detect_doc,
    )

    cfg = MatcherConfig()
    names = ["QuantumRouter", "Aurora Client", "KYBER", "Storage"]
    gaz = compile_gazetteer(names, cfg)
    mentions, aliases = detect_doc(lines, gaz)
    for sent_no, name, ref, rule in mentions:
        assert 1 <= sent_no <= len(lines)
        assert name in names
        assert ref in ("DIRECT", "INDIRECT")
        assert isinstance(rule, str) and rule
    for acro, name in aliases.items():
        assert name in names and acro
