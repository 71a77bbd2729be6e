"""Unit tests for the doc-local mention matcher rules."""

import pytest

from named_architecture_entity_recognition_spark.operators.matching import (
    MatcherConfig,
    acronym_of,
    camel_tokens,
    compile_gazetteer,
    detect_doc,
    detect_mentions,
    normalize_name,
)

CFG = MatcherConfig()


def detect(lines, names):
    gaz = compile_gazetteer(names, CFG)
    return detect_mentions(lines, gaz)


def test_normalize_and_camel():
    assert normalize_name("BBB web") == "bbbweb"
    assert camel_tokens("WebUI") == ["Web", "UI"]
    assert acronym_of("BigBlueButton") == "BBB"


def test_exact_match_direct():
    out = detect(["The WebUI talks to the Registry."], ["WebUI", "Registry"])
    assert (1, "WebUI", "DIRECT", "R_EXACT") in out
    assert (1, "Registry", "DIRECT", "R_EXACT") in out


def test_hyphen_space_normalization():
    out = detect(["Traffic is split by bbb-web instances."], ["BBB web"])
    assert out and out[0][1] == "BBB web"


def test_acronym_expansion_of_camel_word():
    out = detect(["BigBlueButton web application handles it."], ["BBB web"])
    assert out and out[0][1] == "BBB web" and out[0][2] == "DIRECT"


def test_ambiguous_word_needs_case_or_context():
    # lowercase common word in prose: no match
    assert detect(["The main logic of the app is simple."], ["Logic"]) == []
    # case-sensitive hit: match
    assert detect(["The Logic component is central."], ["Logic"]) != []
    # lowercase + 'component' context: match
    assert detect(["the logic component does X."], ["Logic"]) != []


def test_package_path_is_not_a_mention():
    assert detect(["Package overview contains logic.api, logic.core."], ["Logic"]) == []
    assert detect(["Overview contains test.driver and test.cases."], ["Test Driver"]) == []


def test_fuzzy_typo_acronym():
    out = detect(["Communication uses the fsels layer."], ["FSESL"])
    assert out and out[0][1] == "FSESL"


def test_pronoun_inheritance_single_focus():
    out = detect(
        [
            "The Persistence service provides access to data.",
            "It maps the relational entities to JSON objects.",
        ],
        ["Persistence"],
    )
    assert (2, "Persistence", "INDIRECT", "R_PRONOUN") in out


def test_pronoun_follows_action_antecedent():
    # gold-annotated shape (teastore s27-28): "The X <verbs> ..." then
    # "It is trained ..." — the pronoun inherits the focus
    out = detect(
        [
            "The Recommender uses a rating matrix to generate recommendations.",
            "It is trained using all existing orders.",
        ],
        ["Recommender"],
    )
    assert (2, "Recommender", "INDIRECT", "R_PRONOUN") in out


def test_pronoun_blocked_by_copular_antecedent():
    # "X is a <kind> ..." definitional antecedent: the following pronoun
    # sentence is generic commentary (bigbluebutton s35-36 gold shape)
    out = detect(
        [
            "The Recommender is a Java-based application written in Scala.",
            "It implements the recommendation API.",
        ],
        ["Recommender"],
    )
    assert all(m[0] != 2 for m in out)


def test_head_noun_role_word():
    out = detect(
        ["Updates are pushed to the client side."],
        ["HTML5 Client", "HTML5 Server"],
    )
    assert (1, "HTML5 Client", "INDIRECT", "R_HEAD") in out


def test_alias_induction_acronym_definition():
    out = detect(
        [
            "Kurento Media Server KMS is a media server.",
            "KMS is responsible for streaming of webcams.",
        ],
        ["Kurento"],
    )
    assert (2, "Kurento", "DIRECT", "R_ALIAS") in out


@pytest.mark.parametrize("expansion_first", [True, False])
def test_bare_acronym_co_mentions_the_name_in_its_expansion(expansion_first):
    """FSESL spelled out as "FreeSWITCH Event Socket Layer" anywhere in
    the doc: a bare FSESL line, before or after it, also references
    FreeSWITCH (R_COMENTION); the expansion line itself does not."""
    lines = ["The FreeSWITCH Event Socket Layer carries events.",
             "FSESL restarts nightly."]
    if not expansion_first:
        lines.reverse()
    bare = lines.index("FSESL restarts nightly.") + 1
    out = detect(lines, ["FreeSWITCH", "FSESL"])
    assert (bare, "FSESL", "DIRECT", "R_EXACT") in out
    assert (bare, "FreeSWITCH", "INDIRECT", "R_COMENTION") in out
    assert [m for m in out if m[3] == "R_COMENTION"] == [
        (bare, "FreeSWITCH", "INDIRECT", "R_COMENTION")
    ]


def test_alias_defined_after_first_bare_use_tags_that_line():
    """Aliases are doc-level: a definition on a later line still tags an
    earlier bare use."""
    out = detect(
        ["Later KMS restarts.", "Kurento Media Server KMS is the media engine."],
        ["Kurento"],
    )
    assert (1, "Kurento", "DIRECT", "R_ALIAS") in out


def test_cached_lines_carry_no_alias_into_another_doc():
    """Two docs on one compiled gazetteer: the second repeats the first's
    bare-acronym line (a line-cache hit) but not its definition, so it
    gets no R_ALIAS and no alias."""
    gaz = compile_gazetteer(["Kurento"], CFG)
    first, first_aliases = detect_doc(
        ["Kurento Media Server KMS is the media engine.", "Later KMS restarts."], gaz
    )
    assert (2, "Kurento", "DIRECT", "R_ALIAS") in first and "KMS" in first_aliases
    second, second_aliases = detect_doc(["Later KMS restarts.", "The KMS logs grow."], gaz)
    assert second == [] and not second_aliases


def test_subsumption_suppresses_inner_entity():
    out = detect(
        ["Messages go through the FreeSWITCH Event Socket Layer here."],
        ["FreeSWITCH", "FSESL"],
    )
    names = {m[1] for m in out}
    assert names == {"FSESL"}


def test_compound_token():
    out = detect(["Data comes from the PersistenceProvider module."], ["Persistence"])
    assert out and out[0][1] == "Persistence"


def test_direct_vs_indirect_flags():
    out = detect(
        [
            "The WebUI service renders pages.",
            "It renders the storefront for users.",
        ],
        ["WebUI"],
    )
    refs = {m[0]: m[2] for m in out}
    assert refs[1] == "DIRECT" and refs[2] == "INDIRECT"


def test_line_cache_equivalence():
    """Cached and uncached detection agree on a doc with heavy line
    repetition, and alias-bearing docs bypass the cache correctly."""
    from named_architecture_entity_recognition_spark.operators.matching import (
        MatcherConfig,
        compile_gazetteer,
        detect_mentions,
    )

    cfg = MatcherConfig()
    lines = (
        ["The AlphaHub routes requests.", "It processes the incoming data."] * 5
        + ["Kurento Media Server KMS is the media engine.", "Later KMS restarts."]
    )
    g1 = compile_gazetteer(["AlphaHub", "Kurento Media Server"], cfg)
    first = detect_mentions(lines, g1)
    again = detect_mentions(lines, g1)  # warm cache second pass
    assert first == again
    g2 = compile_gazetteer(["AlphaHub", "Kurento Media Server"], cfg)
    assert detect_mentions(lines, g2) == first
    assert any(r == "R_ALIAS" for _, _, _, r in first)
    assert sum(1 for _, n, _, _ in first if n == "AlphaHub") == 10


def test_null_and_empty_lines_are_dropped_not_fatal():
    """F5 resilience: dirty rows (None/empty sentence text) must not
    crash detection and must break pronoun continuity."""
    out = detect(
        ["The AlphaHub routes requests.", None, "", "It processes data."],
        ["AlphaHub"],
    )
    assert (1, "AlphaHub", "DIRECT", "R_EXACT") in out
    assert all(m[0] != 4 for m in out)  # focus cleared by the gap


def test_compile_gazetteer_skips_unmatchable_names():
    """Dirty dictionary rows (empty/whitespace/punct-only names) are
    skipped at compile instead of crashing the job; valid names in the
    same list still match."""
    from named_architecture_entity_recognition_spark.operators.matching import (
        MatcherConfig,
        compile_gazetteer,
        detect_mentions,
    )

    gaz = compile_gazetteer(["", "   ", "***", "WebUI"], MatcherConfig())
    out = detect_mentions(["The WebUI handles requests."], gaz)
    assert {m[0] for m in out} == {"WebUI"} or any("WebUI" in str(m) for m in out)
