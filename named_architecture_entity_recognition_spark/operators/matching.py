"""Doc-local deterministic mention detection (gazetteer scoring).

Replaces the reference's LLM mention detector with a deterministic,
rule-based extractor. The reference's evaluated configuration is
gazetteer-assisted (test-config.json ``useGoldstandardComponentNames:
true``; recognizer/Prompt.java:56-85 injects the candidate dictionary
into the prompt), so recognition reduces to dictionary matching plus
alias/abbreviation/anaphora handling — exactly what this module does.

Everything here is pure-Python over ONE document's sentence list, so it
parallelizes embarrassingly across documents through the one
``mapInArrow`` kernel (operators/mentions.py, Arrow batches of whole
docs); no cross-document state exists. Each worker compiles a
dictionary once, under the default ``MatcherConfig``, and keeps it in
the LRU cache of ``mentions._compiled_gaz``. The compiled ``GazIndex``
holds the ``MatcherConfig`` that detection runs under, so
``tools/ablation.py`` varies it by compiling here, in pure Python.

Each distinct line is matched once (``_match_line``, cached on the
``GazIndex``): its surface matches plus its acronym definitions and
expansion co-mentions. ``detect_doc`` folds the latter two over the
document into doc-level aliases, then runs the doc-sequential rules.

Match rules (each mention records which rule fired):

  R_EXACT   word-boundary surface match (reference DIRECT containment,
            serialization/NamedEntityParser.java:188-204); ambiguous
            common-word names need a "<name> component/layer/subsystem"
            context, or a case-sensitive hit outside a package path
            ("logic.api").
  R_NORM    normalized token-window match: case/hyphen/space collapsed
            ("bbb-web" = "BBB web"), with acronym<->camel-word
            equivalence ("BigBlueButton web" = "BBB web").
  R_FUZZY   char-set Jaccard >= JACCARD_THRESHOLD (0.90, as
            model/SoftwareArchitectureDocumentation.java:160) between a
            4-6 char normalized name and a token window one char longer
            or shorter (typos: "fsels" ~ "FSESL"). At these lengths the
            threshold holds only for equal char sets.
  R_STEM    inflection of the name ("re-encoding" -> "ReEncoder").
  R_COMPOUND name embedded as the head of a longer compound token
            ("PersistenceProvider" -> "Persistence").
  R_ALIAS   doc-induced acronym alias ("Kurento Media Server KMS ..."
            defines KMS -> Kurento; a bare "KMS" anywhere in the doc
            counts, before the definition too).
  R_COMENTION a bare all-caps name whose spelled-out form somewhere in
            the doc holds another name ("FSESL" after "FreeSWITCH Event
            Socket Layer" -> FreeSWITCH too), INDIRECT.
  R_HEAD    head-noun anaphora for architectural role nouns
            ("the client" -> "HTML5 Client"), INDIRECT.
  R_CAMEL_HEAD determinered camel head ("the UI" -> "WebUI"), INDIRECT.
  R_PRONOUN "It ..."-initial sentence inherits the single strongly
            focused entity of the previous sentence, INDIRECT.
  R_DEMONSTRATIVE "This component ..."-initial sentence inherits the
            focused entity within the last 8 sentences, INDIRECT.

A match whose token span is strictly contained in a longer match of a
different entity is suppressed ("FreeSWITCH" inside "FreeSWITCH Event
Socket Layer" ~ FSESL).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from named_architecture_entity_recognition_spark.functions.jaccard import (
    JACCARD_THRESHOLD,
    char_jaccard,
)

DIRECT = "DIRECT"
INDIRECT = "INDIRECT"

# Common English words that frequently appear in running prose with a
# non-entity meaning; single-token gazetteer names equal to one of these
# need stronger evidence (case-sensitive hit or component-ish context).
_AMBIGUOUS_WORDS = {
    "logic", "client", "common", "storage", "database", "cache",
    "facade", "packaging", "model", "view", "controller", "server",
    "service", "api", "core", "util", "web", "app", "data",
    "test", "search", "media", "preferences", "gateway", "ui", "gui",
    "e2e", "driver",
}

# Architectural role nouns that can stand in for a multi-token entity
# whose head they are ("the client" -> HTML5 Client).
_ROLE_HEADS = {"client", "server", "datastore", "database", "db", "ui", "gui"}

_PRONOUN_START = re.compile(
    r"^(it|(as such|furthermore|additionally|moreover|finally|also|in particular),?\s+it)\b",
    re.IGNORECASE,
)

# Demonstrative anaphora ("This component automates ..."): refers to
# the section's subject — the last strongly-focused entity, with a
# longer reach than pronoun inheritance (section prose intervenes).
_DEMONSTRATIVE_START = re.compile(
    r"^\s*this\s+(component|service|module|subsystem)\b", re.IGNORECASE
)

_WORD_RE = re.compile(r"[A-Za-z0-9]+")
_STEM_SUFFIXES = ("ing", "s", "es")
# R_STEM applies to normalized names at least this long
_STEM_MIN_PREFIX = 7
# longest token-window norm a line offers for lookup
_WINDOW_MAX_LEN = 40
# R_COMPOUND: a name norm at least this long, embedded as the head of a
# token at least _COMPOUND_MIN_TAIL chars longer ("PersistenceProvider")
_COMPOUND_MIN_NORM = 6
_COMPOUND_MIN_TAIL = 3

# Copular-definitional sentence ("X is a Java-based application"): such a
# sentence defines what X *is* rather than what it *does*; a following
# pronoun sentence tends to be generic commentary the gold standard does
# not attribute to X (benchmark evidence: every annotated pronoun
# occurrence has an action-verb antecedent).
_COPULAR_RE = re.compile(r"\b(is|are)\s+(a|an|the)\b", re.IGNORECASE)

# Acronym definition: 2-4 capitalized words, then an all-caps token right
# after them or in parentheses ("Kurento Media Server (KMS)").
_ACRONYM_DEF_RE = re.compile(
    r"((?:[A-Z][A-Za-z0-9]*\s+){1,3}[A-Z][A-Za-z0-9]*)\s+\(?([A-Z]{2,6})\)?"
)

# Opinion-framed sentence ("We think FreeSWITCH is an amazing piece of
# software", "We consider the X design interesting"): commentary about
# the technology, not an architectural reference. Any propositional-
# attitude verb after "we" qualifies.
_OPINION_START = re.compile(
    r"^\s*we\s+(think|believe|feel|consider|find|regard)\b", re.IGNORECASE
)

# Comparative mention ("systems other than FreeSWITCH", "other than the
# X"): names the category the entity does NOT refer to in this
# sentence; an intervening determiner does not change that.
_THAN_BEFORE = re.compile(r"(?i)\bthan\s+((the|a|an)\s+)?$")

# Possessive determiner right before a common-word name ("his
# preferences", "their data"): a person's belongings, not the component.
_POSSESSIVE_BEFORE = re.compile(r"(?i)\b(his|her|their|its|my|your)\s+$")

# Quantified mass-noun usage of a common-word name ("a little bit of
# logic attached", "some amount of storage"): talks about the concept,
# not the component (benchmark evidence: jabref line 5 vs the annotated
# subject usage "The logic is responsible ..." one line later).
_QUANTITY_OF_BEFORE = re.compile(
    r"(?i)\b(bit|bits|amount|amounts|piece|pieces|lot|lots|kind|kinds|"
    r"type|types)\s+of\s+$"
)

# Architectural-layer qualifier right before a common-word name
# ("back end logic", "back-end logic", "front-end UI"): the phrase
# names the layer that IS the component, so a lowercase hit counts
# even though bare common words need case-sensitive evidence
# (benchmark evidence: teammates lines 7/185 are annotated Logic
# occurrences with only lowercase "back[- ]end logic" in the text).
_LAYER_QUALIFIER_BEFORE = re.compile(r"(?i)\b(back|front)[\s\-]?end\s+$")

# Copular CLASS definition right after the name ("Logic is a Facade
# class which ..."): the sentence defines a Java CLASS of that name —
# a NamedEntityType.CLASS mention, not the COMPONENT (the reference
# distinguishes these types, model/NamedEntityType.java:8; benchmark
# evidence: teammates line 88 is annotated Storage-only while line 87
# "Logic API is represented by ..." is an annotated Logic occurrence).
_CLASS_COPULAR_AFTER = re.compile(r"^\s+is\s+an?\s+(\w+[\s\-])*?class\b", re.IGNORECASE)


def _generic_exact_context(line: str, start: int) -> bool:
    """True if an exact surface hit at ``start`` is a generic (non-
    architectural) mention that should not count as an occurrence."""
    return bool(_THAN_BEFORE.search(line[:start])) or bool(
        _OPINION_START.match(line)
    )


def _generic_at(line: str, spans, tok_span) -> bool:
    """Generic-framing guard (opinion/comparative) at a TOKEN span:
    every surface-hit rule is subject to it, not just R_EXACT --
    otherwise the weaker rules resurrect a suppressed mention
    ("Tools other than the Zenith Gateway exist." must not come back
    as an R_NORM window hit). Module-level: _surface_matches runs once
    per (line, candidate) and a per-call closure allocation was
    measurable."""
    return _generic_exact_context(line, spans[tok_span[0]][1])


def _possessive_before(line: str, start: int) -> bool:
    return bool(_POSSESSIVE_BEFORE.search(line[:start]))


def normalize_name(s: str) -> str:
    """Collapse to lowercase alphanumerics: 'BBB web' -> 'bbbweb'."""
    return "".join(_WORD_RE.findall(s)).lower()


def camel_tokens(s: str) -> list[str]:
    """Split CamelCase / digit boundaries: 'WebUI' -> ['Web','UI']."""
    return re.findall(r"[A-Z]+(?=[A-Z][a-z])|[A-Z][a-z]+|[A-Z]+|[a-z]+|\d+", s)


def acronym_of(word: str) -> str:
    """Initials of the camel parts: 'BigBlueButton' -> 'BBB'."""
    return "".join(t[0] for t in camel_tokens(word)).upper()


@dataclass(frozen=True)
class MatcherConfig:
    max_window: int = 4
    enable_head_noun: bool = True
    enable_pronoun: bool = True
    enable_fuzzy: bool = True
    enable_stem: bool = True
    enable_alias_induction: bool = True


@dataclass(frozen=True)
class GazEntry:
    """Precompiled per-name matching artifacts: what the rule cascade
    and the posting lists read, nothing more."""

    name: str
    norm: str
    tokens: tuple
    ci_regex: "re.Pattern"
    # ambiguous common-word name only ("Storage"): its (context, case-
    # sensitive, package-path) regexes, the evidence R_EXACT needs for it
    # ('<name> component|layer|subsystem', "Storage", "logic.api");
    # None for every other name
    strict: tuple | None
    head: str | None
    camel_head: str | None
    prefix: str | None  # unique distinctive first token ('webrtc' of WebRTC-SFU)
    # R_STEM probes in cascade order ("reencoding" of ReEncoder); empty
    # when the rule is off or the name is short. The stem index posts
    # exactly these strings, so a window triggers the entry iff a probe hits
    stems: tuple
    fuzzy: bool  # R_FUZZY applies: the rule is on and the norm has 4-6 chars


def _boundary_pattern(name: str) -> str:
    esc = re.escape(name).replace(r"\ ", r"[\s\-]")
    return r"(?<![A-Za-z0-9])" + esc + r"(?![A-Za-z0-9])"


class GazIndex:
    """Compiled gazetteer: entry list + inverted trigger indexes.

    Candidate generation is driven from the LINE side (tokens, window
    norms, token prefixes, initials present in the sentence) through
    posting lists, instead of testing every entry against every line.
    Every probe is an exact key lookup, so a line makes ~O(tokens)
    probes whatever the dictionary size. Semantics are identical to
    testing every entry: each rule that can fire for an entry has a
    posting list that yields it (tests/test_gazindex_property.py,
    tests/test_matcher_differential.py), and candidates run the full
    per-entry rule cascade in compile order.

    The index holds the ``MatcherConfig`` it was compiled with
    (``cfg``), and detection reads it from here: the posting lists and
    the rule cascade always run under one configuration.
    """

    __slots__ = (
        "entries", "exact_idx", "norm_idx", "acr_tok_idx", "expand_idx",
        "stem_idx", "fuzzy_idx",
        "head_idx", "camel_head_idx", "prefix_idx", "line_cache", "cfg",
    )

    def __init__(self, entries, cfg: "MatcherConfig"):
        self.entries = list(entries)
        self.cfg = cfg
        self.line_cache: dict = {}  # line -> the _match_line result
        self.exact_idx: dict = {}
        self.norm_idx: dict = {}
        self.acr_tok_idx: dict = {}
        self.expand_idx: dict = {}
        self.stem_idx: dict = {}
        self.fuzzy_idx: dict = {}
        self.head_idx: dict = {}
        self.camel_head_idx: dict = {}
        self.prefix_idx: dict = {}

        def post(idx, key, item):
            idx.setdefault(key, []).append(item)

        # dictionary-wide token frequencies: the exact trigger posts each
        # entry under its RAREST token, so shared stems ("Alpha ...") do
        # not fan a line's candidate set out to every sibling name. An
        # R_EXACT match requires every token present, so triggering on
        # the rarest one loses nothing.
        tok_freq: dict = {}
        for e in self.entries:
            for t in set(e.tokens):
                tok_freq[t] = tok_freq.get(t, 0) + 1

        for i, e in enumerate(self.entries):
            it = (i, e)
            # surface-token trigger (only path open to ambiguous names)
            post(self.exact_idx, min(e.tokens, key=lambda t: (tok_freq[t], e.tokens.index(t))), it)
            if e.head:
                post(self.head_idx, e.head, it)
            if e.camel_head:
                post(self.camel_head_idx, e.camel_head, it)
            if e.prefix:
                post(self.prefix_idx, e.prefix, it)
            if e.strict is not None:
                continue
            # window-norm equality ("bbb-web" == "BBB web"), and the
            # compound head probed by a line token's prefixes (R_COMPOUND)
            post(self.norm_idx, e.norm, it)
            # acronym<->camel token equivalence ("BBB" ~ "BigBlueButton")
            for t in set(e.tokens):
                if 2 <= len(t) <= 6:
                    post(self.acr_tok_idx, t, it)
            # all-caps acronym expanded by a window's initials (R_EXPAND)
            if e.name.isupper() and 3 <= len(e.norm) <= 6:
                post(self.expand_idx, e.norm, it)
            for probe in e.stems:
                post(self.stem_idx, probe, it)
            # a 4-6 char norm has at most 6 distinct chars, so a window
            # with another char set scores at most 6/7 < JACCARD_THRESHOLD:
            # the char set IS the trigger key
            if e.fuzzy:
                post(self.fuzzy_idx, frozenset(e.norm), it)

    def candidates(self, lv: "LineView"):
        """Entries possibly matching this line, in compile order.
        Hot path (called once per distinct line): bound methods hoisted
        to locals — ~10% of cold-path matcher CPU was attribute lookups
        in these posting-list loops."""
        found: dict = {}
        put = found.__setitem__
        exact_get = self.exact_idx.get
        for tok in lv.token_set:
            for i, e in exact_get(tok, ()):
                put(i, e)
        wn = lv.window_norms()
        norm_get = self.norm_idx.get
        stem_get = self.stem_idx.get if self.stem_idx else None
        fuzzy_get = self.fuzzy_idx.get if self.fuzzy_idx else None
        for acc in wn:
            for i, e in norm_get(acc, ()):
                put(i, e)
            if stem_get is not None:
                for i, e in stem_get(acc, ()):
                    put(i, e)
            if fuzzy_get is not None and 3 <= len(acc) <= 7:
                for i, e in fuzzy_get(frozenset(acc), ()):
                    put(i, e)
        if self.acr_tok_idx:
            acr_get = self.acr_tok_idx.get
            for a in lv.acr_equiv:
                for i, e in acr_get(a, ()):
                    put(i, e)
        if self.expand_idx:
            expand_get = self.expand_idx.get
            for key in lv.initials_windows():
                for i, e in expand_get(key, ()):
                    put(i, e)
        # R_COMPOUND: a norm that is a prefix of a token, leaving a tail
        for w in lv.token_set:
            for k in range(_COMPOUND_MIN_NORM, len(w) - _COMPOUND_MIN_TAIL + 1):
                for i, e in norm_get(w[:k], ()):
                    put(i, e)
        return [found[i] for i in sorted(found)]


def compile_gazetteer(names, cfg: MatcherConfig | None = None):
    """Compile dictionary names into broadcastable match artifacts.

    Names with no word characters (empty, whitespace, punctuation-only)
    are skipped: they can never match a token window, and a dirty
    dictionary row must not kill a 10^12-doc job (it previously
    IndexError'd on the empty token tuple)."""
    cfg = cfg or MatcherConfig()
    names = list(
        dict.fromkeys(n for n in names if n and _WORD_RE.search(n))
    )
    head_counts: dict = {}
    camel_head_counts: dict = {}
    toks_by_name = {}
    camel_by_name = {}
    for name in names:
        toks = tuple(t.lower() for t in _WORD_RE.findall(name))
        toks_by_name[name] = toks
        if len(toks) > 1:
            head_counts[toks[-1]] = head_counts.get(toks[-1], 0) + 1
        ctoks = camel_tokens(name)
        camel_by_name[name] = ctoks
        if len(ctoks) > 1:
            ch = ctoks[-1].lower()
            camel_head_counts[ch] = camel_head_counts.get(ch, 0) + 1
    all_norms = {normalize_name(n) for n in names}
    first_tok_counts: dict = {}
    for name in names:
        toks = toks_by_name[name]
        if len(toks) > 1:
            first_tok_counts[toks[0]] = first_tok_counts.get(toks[0], 0) + 1
    entries = []
    for name in names:
        toks = toks_by_name[name]
        norm = normalize_name(name)
        # single common word, or a multi-word name made only of common
        # words ("Test Driver"), needs stronger (case-sensitive) evidence
        ambiguous = all(t in _AMBIGUOUS_WORDS for t in toks)
        prefix = None
        if len(toks) > 1:
            p0 = toks[0]
            first_word = _WORD_RE.findall(name)[0]
            # distinctive = acronym-like or internally camel-cased
            # ("WebRTC"), never a plain dictionary word ("Image")
            distinctive = first_word.isupper() or len(camel_tokens(first_word)) >= 2
            if (
                distinctive
                and first_tok_counts[p0] == 1
                and len(p0) >= 4
                and p0 not in _AMBIGUOUS_WORDS
                and p0 not in all_norms
                and p0 not in head_counts
            ):
                prefix = p0
        head = None
        if len(toks) > 1:
            h = toks[-1]
            if head_counts[h] == 1 and h not in all_norms and h in _ROLE_HEADS:
                head = h
        camel_head = None
        ctoks = camel_by_name[name]
        if len(ctoks) > 1 and len(toks) == 1:
            ch = ctoks[-1].lower()
            if (
                camel_head_counts.get(ch, 0) == 1
                and ch not in all_norms
                and ch not in head_counts
                and ch in _ROLE_HEADS
            ):
                camel_head = ch
        stems = ()
        if cfg.enable_stem and len(norm) >= _STEM_MIN_PREFIX:
            stems = tuple(
                probe for k in (1, 2) for suf in _STEM_SUFFIXES
                if (probe := norm[:-k] + suf) != norm
            )
        strict = None
        if ambiguous:
            strict = (
                re.compile(
                    _boundary_pattern(name)
                    + r"[\s\-]+(component|layer|subsystem)",
                    re.IGNORECASE,
                ),
                re.compile(_boundary_pattern(name)),
                re.compile(
                    r"(\.{}|{}\.)[a-z0-9]".format(
                        re.escape(toks[0]), re.escape(toks[-1])
                    )
                ),
            )
        entries.append(
            GazEntry(
                name=name,
                norm=norm,
                tokens=toks,
                ci_regex=re.compile(_boundary_pattern(name), re.IGNORECASE),
                strict=strict,
                head=head,
                camel_head=camel_head,
                prefix=prefix,
                stems=stems,
                fuzzy=cfg.enable_fuzzy and 4 <= len(norm) <= 6,
            )
        )
    return GazIndex(entries, cfg)


def _token_spans(line: str):
    return [(m.group(0), m.start(), m.end()) for m in _WORD_RE.finditer(line)]


def _char_to_token_range(spans, start, end):
    toks = [i for i, (_, s, e) in enumerate(spans) if s < end and e > start]
    return (toks[0], toks[-1]) if toks else (-1, -1)


class LineView:
    """Per-line precomputation shared across all gazetteer entries.

    Tokenizing/indexing once per line (instead of once per (line,
    entry) pair) plus trigger-set candidate pruning is what makes the
    matcher scale to large dictionaries: entries with no lexical signal
    in the line are skipped without running any regex."""

    __slots__ = (
        "line", "low", "spans", "words", "low_words", "token_set",
        "max_window", "_acr_equiv", "gap_dotted", "_initials",
        "_window_norms",
    )

    def __init__(self, line: str, max_window: int = 4):
        self.line = line
        self.max_window = max_window
        self.low = line.lower()
        self.spans = _token_spans(line)
        self.words = [w for w, _, _ in self.spans]
        self.low_words = [w.lower() for w in self.words]
        self.token_set = set(self.low_words)
        # gap_dotted[k] == True iff a '.' sits between tokens k and k+1
        g = []
        for k in range(len(self.spans) - 1):
            g.append("." in line[self.spans[k][2] : self.spans[k + 1][1]])
        self.gap_dotted = g
        self._acr_equiv = None
        self._initials = None
        self._window_norms = None

    @property
    def acr_equiv(self):
        if self._acr_equiv is None:
            acr = set()
            for w in self.words:
                # cheap pre-test: multi-part camel words have an upper
                # char after position 0 ("BigBlueButton") or a digit
                # boundary ("pro14"); plain lowercase words cannot split
                if len(w) >= 2 and not w.isdigit() and (
                    not w[1:].islower() or not w.isalpha()
                ):
                    ct = camel_tokens(w)
                    if len(ct) >= 2:
                        acr.add(acronym_of(w).lower())
            self._acr_equiv = acr
        return self._acr_equiv

    def dotted(self, i: int, j: int) -> bool:
        return any(self.gap_dotted[i:j])

    def window_norms(self):
        """{concat-of-lowered-tokens: (i, j)} over all windows of up to
        max_window tokens and _WINDOW_MAX_LEN chars that do not cross a
        '.' gap; first (leftmost) window wins. Built once per line;
        entry matching becomes a hash lookup instead of a scan."""
        if self._window_norms is None:
            wn = {}
            lw = self.low_words
            gd = self.gap_dotted
            max_window = self.max_window
            for i in range(len(lw)):
                acc = lw[i]
                if acc not in wn:
                    wn[acc] = (i, i)
                for j in range(i + 1, min(i + max_window, len(lw))):
                    if gd[j - 1]:
                        break
                    acc += lw[j]
                    if len(acc) > _WINDOW_MAX_LEN:
                        break
                    if acc not in wn:
                        wn[acc] = (i, j)
            self._window_norms = wn
        return self._window_norms

    def initials_windows(self):
        """{initials-string: (i, j)} for windows of 2..6 initial chars
        starting at an uppercase word (for R_EXPAND); lazy."""
        if self._initials is None:
            out = {}
            per_word = [acronym_of(w).lower() for w in self.words]
            for i, w in enumerate(self.words):
                if not w[:1].isupper():
                    continue
                acc = ""
                for j in range(i, len(self.words)):
                    if j > i and self.gap_dotted[j - 1]:
                        break
                    acc += per_word[j]
                    if len(acc) > 6:
                        break
                    if j > i and acc not in out:
                        out[acc] = (i, j)
            self._initials = out
        return self._initials


def _word_matches_token(word: str, tok: str) -> bool:
    """Token equivalence incl. acronym<->camel expansion (BBB~BigBlueButton).

    ``tok`` is an already-lowercased gazetteer name token.
    """
    wl = word.lower()
    tl = tok.lower()
    if wl == tl:
        return True
    if (
        2 <= len(tl) <= 6
        and len(camel_tokens(word)) >= 2
        and acronym_of(word).lower() == tl
    ):
        return True
    if word.isupper() and 2 <= len(word) <= 6 and acronym_of(tok).lower() == wl:
        return True
    return False


def _surface_matches(lv: LineView, entry: GazEntry):
    """Yield (rule, (tok_lo, tok_hi)) matches of entry in the line."""
    line, spans, words = lv.line, lv.spans, lv.words
    out = []
    if entry.strict is not None:
        ctx_regex, cs_regex, pkg_regex = entry.strict
        m = ctx_regex.search(line)
        if m:
            out.append(("R_EXACT", _char_to_token_range(spans, m.start(), m.end())))
        else:
            m = cs_regex.search(line)
            if (
                m
                and not pkg_regex.search(lv.low)
                and not _possessive_before(line, m.start())
                and not _QUANTITY_OF_BEFORE.search(line[: m.start()])
            ):
                tail = line[m.end():]
                if not re.match(
                    r"[\s\-]+(tests?|testing)\b", tail, re.IGNORECASE
                ) and not _CLASS_COPULAR_AFTER.match(tail):
                    out.append(
                        ("R_EXACT", _char_to_token_range(spans, m.start(), m.end()))
                    )
        if not out:
            m = entry.ci_regex.search(line)
            if m and _LAYER_QUALIFIER_BEFORE.search(line[: m.start()]):
                out.append(
                    ("R_EXACT", _char_to_token_range(spans, m.start(), m.end()))
                )
        return out
    # every token present is a necessary condition for the boundary
    # regex; cheap set membership skips the regex for near-miss lines
    # (single-token entries dominate real dictionaries — avoid the
    # genexpr allocation for them; this function runs once per
    # (line, candidate) and is the matcher's hottest frame)
    toks = entry.tokens
    n_tok = len(toks)
    tset = lv.token_set
    if (toks[0] in tset) if n_tok == 1 else all(t in tset for t in toks):
        m = entry.ci_regex.search(line)
        if m and not _generic_exact_context(line, m.start()):
            return [("R_EXACT", _char_to_token_range(spans, m.start(), m.end()))]
    norm = entry.norm
    # R_EXPAND: the name is an acronym of a multi-word window's
    # camel-initials ("FSESL" ~ "FreeSWITCH Event Socket Layer")
    if n_tok == 1 and entry.name.isupper() and 3 <= len(norm) <= 6:
        hit = lv.initials_windows().get(norm)
        if hit and not _generic_at(line, spans, hit):
            return [("R_NORM", hit)]
    wn = lv.window_norms()
    low_words = lv.low_words
    # R_NORM: normalized window equality ("bbb-web" == "BBB web")
    hit = wn.get(norm)
    if (
        hit is not None
        and (hit[0] != hit[1] or low_words[hit[0]] != norm)
        and not _generic_at(line, spans, hit)
    ):
        return [("R_NORM", hit)]
    # R_NORM acronym-equivalent 1:1 window ("BigBlueButton web" ~ "BBB web");
    # only reachable when some entry token has an acronym-expanded word
    # (acr_equiv hoisted: the property dispatch per token was hot)
    if n_tok > 1 and (
        (_ae := lv.acr_equiv) and any(2 <= len(t) <= 6 and t in _ae for t in toks)
    ):
        for i in range(len(words) - n_tok + 1):
            if lv.dotted(i, i + n_tok - 1):
                continue
            if all(
                _word_matches_token(words[i + k], entry.tokens[k])
                for k in range(n_tok)
            ) and not _generic_at(line, spans, (i, i + n_tok - 1)):
                return [("R_NORM", (i, i + n_tok - 1))]
    # R_STEM: inflections of the name ("re-encoding" -> reencoder)
    for probe in entry.stems:
        hit = wn.get(probe)
        if hit is not None and not _generic_at(line, spans, hit):
            return [("R_STEM", hit)]
    # R_COMPOUND: name embedded as head of a longer single token
    if len(norm) >= _COMPOUND_MIN_NORM:
        for i, w in enumerate(low_words):
            if len(w) >= len(norm) + _COMPOUND_MIN_TAIL and w.startswith(norm):
                if not _generic_at(line, spans, (i, i)):
                    return [("R_COMPOUND", (i, i))]
    # R_FUZZY: char-set Jaccard for short acronym-like names (typos)
    if entry.fuzzy:
        for acc, span in wn.items():
            if (
                abs(len(acc) - len(norm)) <= 1
                and acc
                and acc[0] == norm[0]
                and acc != norm
                and char_jaccard(acc, norm) >= JACCARD_THRESHOLD
                and not _generic_at(line, spans, span)
            ):
                return [("R_FUZZY", span)]
    return out


def detect_mentions(lines, gazetteer: "GazIndex"):
    """Detect component mentions in one document.

    Returns [(sentence_no 1-indexed, gazetteer name, DIRECT|INDIRECT, rule)].
    DIRECT/INDIRECT follows the reference containment semantics
    (NamedEntityParser.java:188-204): DIRECT iff a surface form of the
    entity occurs literally (case-insensitively); anaphoric rules emit
    INDIRECT.
    """
    return detect_doc(lines, gazetteer)[0]


def _match_line(line, gazetteer: "GazIndex"):
    """Context-free per-line matching: surface rules + subsumption +
    head-noun/prefix anaphora. Depends ONLY on (line, gazetteer) —
    doc-sequential state (pronouns, doc-induced aliases) is layered on
    by ``detect_doc``. Returns (kept, has_strong, copular, defs,
    comentions): kept is the emit-ready match list, defs the line's
    ``(acronym, name)`` definitions and comentions its ``(acronym name,
    other name)`` expansion pairs, which ``detect_doc`` folds over the
    doc (both ``()`` when alias induction is off).

    Being line-pure makes the result cacheable per worker: web-scale
    corpora are dominated by repeated boilerplate sentences, and a hit
    skips the whole rule cascade.
    """
    lv = LineView(line, gazetteer.cfg.max_window)
    matches = []  # (name, ref, rule, span)
    for entry in gazetteer.candidates(lv):
        for rule, span in _surface_matches(lv, entry):
            ref = DIRECT if rule in ("R_EXACT", "R_NORM") else INDIRECT
            matches.append((entry.name, ref, rule, span))
    # subsumption: drop matches strictly inside a longer other-entity match
    kept = []
    for name, ref, rule, (lo, hi) in matches:
        inside = any(
            o_name != name and o_lo <= lo and hi <= o_hi and (o_hi - o_lo) > (hi - lo)
            for o_name, _, _, (o_lo, o_hi) in matches
        )
        if not inside:
            kept.append((name, ref, rule, (lo, hi)))
    matched_names = {m[0] for m in kept}
    has_strong = any(m[2] in ("R_EXACT", "R_NORM") for m in kept)
    # head-noun anaphora (per entity, only if that entity not already matched)
    if gazetteer.cfg.enable_head_noun:
        low = lv.low
        head_cands: dict = {}
        for tok in lv.token_set:
            for i, e in gazetteer.head_idx.get(tok, ()):
                head_cands[i] = e
            for i, e in gazetteer.camel_head_idx.get(tok, ()):
                head_cands[i] = e
        for entry in (head_cands[i] for i in sorted(head_cands)):
            if entry.name in matched_names:
                continue
            if entry.head and re.search(
                # not hyphen-attached ("client-side"), not quantifier-
                # preceded ("each client"), not indefinite-generic
                # ("is a media server")
                r"(?<!-)(?<![a-z0-9])"
                + re.escape(entry.head)
                + r"(?![a-z0-9])(?!-)",
                low,
            ) and not re.search(
                r"\b(each|every|all|any|per|an?)\s+(\w+\s+)?"
                + re.escape(entry.head)
                + r"(?![a-z0-9])",
                low,
            ):
                kept.append((entry.name, INDIRECT, "R_HEAD", (-1, -1)))
                matched_names.add(entry.name)
            elif entry.camel_head and re.search(
                r"(?i)\bthe\s+" + re.escape(entry.camel_head) + r"(?![A-Za-z0-9])",
                line,
            ):
                kept.append((entry.name, INDIRECT, "R_CAMEL_HEAD", (-1, -1)))
                matched_names.add(entry.name)
    # distinctive-prefix anaphora ("WebRTC" -> WebRTC-SFU), only when no
    # entity matched strongly in this sentence
    if not has_strong:
        pref_cands: dict = {}
        for tok in lv.token_set:
            for i, e in gazetteer.prefix_idx.get(tok, ()):
                pref_cands[i] = e
        # the posting list holds the prefix token: it is a whole word here
        for entry in (pref_cands[i] for i in sorted(pref_cands)):
            if (
                # sentence-initial bare prefix ("WebRTC provides the
                # user with ...") is a statement about the technology
                # itself, not an anaphoric reference to the component
                lv.low_words[:1] != [entry.prefix]
                and entry.name not in matched_names
            ):
                kept.append((entry.name, INDIRECT, "R_PREFIX", (-1, -1)))
                matched_names.add(entry.name)
    copular = bool(_COPULAR_RE.search(line))
    if not gazetteer.cfg.enable_alias_induction:
        return kept, has_strong, copular, (), ()
    # acronym definitions tied to a dictionary name ("Kurento Media
    # Server KMS is ..." => KMS -> Kurento): the first entry in compile
    # order that surface-matches the phrase, as a doc-level setdefault
    # would keep it
    defs = []
    for m in _ACRONYM_DEF_RE.finditer(line):
        phrase, acro = m.group(1), m.group(2)
        words = phrase.split()
        # the regex is greedy-leftmost, so a capitalized sentence opener
        # swallows leading words ("The Nebula Cache Service NCS"); trim
        # from the left until the initials spell the acronym
        for start in range(len(words) - 1):
            if "".join(w[0] for w in words[start:]).upper() == acro:
                sub_phrase = " ".join(words[start:])
                for entry in gazetteer.entries:
                    if entry.ci_regex.search(sub_phrase):
                        defs.append((acro, entry.name))
                        break
                break
    # acronym-expansion co-mentions: an all-caps name (FSESL) spelled out
    # as an initials window ("FreeSWITCH Event Socket Layer") that holds
    # another name (FreeSWITCH) => (FSESL, FreeSWITCH)
    comentions = set()
    for key, (i, j) in lv.initials_windows().items() if gazetteer.expand_idx else ():
        posts = gazetteer.expand_idx.get(key)
        if posts is None:
            continue
        expansion = " ".join(lv.words[i : j + 1])
        for _idx, acro_entry in posts:
            for other in gazetteer.entries:
                if other.name != acro_entry.name and other.ci_regex.search(expansion):
                    comentions.add((acro_entry.name, other.name))
    return kept, has_strong, copular, tuple(defs), tuple(comentions)


#: per-worker cap on cached distinct lines (result tuples are tiny)
_LINE_CACHE_MAX = 200_000


def detect_doc(lines, gazetteer: "GazIndex"):
    """One-pass per-document detection under ``gazetteer.cfg``: returns
    ``(mentions, aliases)`` where mentions is the ``detect_mentions``
    list and aliases the doc's induced ``{acronym: name}`` map.

    Each line is resolved once through the line-pure ``_match_line``
    result cached on the GazIndex (boilerplate sentences repeat heavily
    in real corpora). Its acronym definitions and expansion co-mentions
    are folded over the whole doc first, so an alias defined on line 5
    also tags a bare use on line 1; the doc-sequential extras (aliases,
    co-mentions, pronouns) are then layered on AFTER the cache.
    """
    cfg = gazetteer.cfg
    cache = gazetteer.line_cache
    hits = []  # None for a null/empty line
    for line in lines:
        hit = None
        if line:
            hit = cache.get(line)
            if hit is None:
                hit = _match_line(line, gazetteer)
                if len(cache) >= _LINE_CACHE_MAX:
                    cache.clear()
                cache[line] = hit
        hits.append(hit)
    aliases: dict = {}
    comentions: dict = {}
    for hit in hits:
        if hit is not None:
            for acro, name in hit[3]:
                aliases.setdefault(acro, name)
            for acro_name, other in hit[4]:
                comentions.setdefault(acro_name, set()).add(other)
    alias_rx = [
        (name, re.compile(_boundary_pattern(acro))) for acro, name in aliases.items()
    ]
    out = []
    focus = []  # single focused entity of the previous sentence
    focus_line = -10  # sentence that set the focus (pronoun decay = 1 line)
    focus_copular = False  # focus was set by a definitional "X is a ..." line
    for sent_no, (line, hit) in enumerate(zip(lines, hits), 1):
        if hit is None:
            # dirty row resilience (F5: drop, don't fail) — a null/empty
            # text span yields no mentions and clears the pronoun focus
            focus = []
            continue
        kept, has_strong, copular, _defs, _comentions = hit
        if alias_rx:
            # doc-induced aliases (count as DIRECT: alias containment,
            # NamedEntityParser.java:196-200); appended after the
            # line-pure pass, mirroring their standalone-token nature.
            # Never mutate `kept` — it may be the cached list.
            matched = {m[0] for m in kept}
            extra = []
            for name, rx in alias_rx:
                if name in matched:
                    continue
                mm = rx.search(line)
                if mm:
                    spans = _token_spans(line)
                    extra.append(
                        (name, DIRECT, "R_ALIAS",
                         _char_to_token_range(spans, mm.start(), mm.end()))
                    )
            if extra:
                kept = kept + extra
        # acronym-expansion co-mention: a literal bare acronym hit also
        # references the entities named inside its spelled-out form
        # ("FSESL akka." -> FSESL + FreeSWITCH); expansion-window hits
        # (R_NORM) are excluded — there subsumption already decided
        if comentions:
            names_here = {m[0] for m in kept}
            extra = []
            for name, ref, rule, span in kept:
                if rule == "R_EXACT" and name in comentions:
                    for other in sorted(comentions[name]):
                        if other not in names_here:
                            extra.append((other, INDIRECT, "R_COMENTION", (-1, -1)))
                            names_here.add(other)
            if extra:
                kept = kept + extra
        # pronoun/demonstrative inheritance — doc-sequential, never cached
        if (
            not kept
            and cfg.enable_pronoun
            and len(focus) == 1
            and not focus_copular
        ):
            stripped = line.strip()
            if sent_no - focus_line == 1 and _PRONOUN_START.match(stripped):
                kept = [(focus[0], INDIRECT, "R_PRONOUN", (-1, -1))]
            elif sent_no - focus_line <= 8 and _DEMONSTRATIVE_START.match(
                stripped
            ):
                kept = [(focus[0], INDIRECT, "R_DEMONSTRATIVE", (-1, -1))]
        for name, ref, rule, _ in kept:
            out.append((sent_no, name, ref, rule))
        if kept:
            # focus = the subject-position strong mention of this sentence
            strong = sorted(
                (
                    (lo if lo >= 0 else 0, n)
                    for n, _, r, (lo, _hi) in kept
                    if r in ("R_EXACT", "R_NORM", "R_PRONOUN")
                ),
            )
            if len({n for _, n in strong}) == 1:
                focus = [strong[0][1]]
                focus_line = sent_no
                focus_copular = copular
            elif strong and strong[0][0] <= 2:
                focus = [strong[0][1]]
                focus_line = sent_no
                focus_copular = copular
            else:
                focus = []
    return out, aliases
