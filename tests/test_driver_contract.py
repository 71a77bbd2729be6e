"""Driver-contract guard: entry() runs and has a stable schema; every
queries() entry is callable at sf0.001 and has an oracle_sql() entry;
and the FIRST-50 window composition is pinned — the driver's per-round
correctness run verifies only the first 50 keys, and r2 lost the
flagship's external correctness signal to a silent mid-dict insert.
The window order is checked against the committed CORRECTNESS
artifacts, read here with the test's own code."""

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

#: the driver re-verifies this many leading queries() keys per round
DRIVER_WINDOW = 50

#: queries that must NEVER leave the driver's 50-query verification
#: window (independent literal copy — editing WINDOW_PINNED in the
#: entry module cannot silently drop a core query without failing here)
WINDOW_REQUIRED = {
    # flagship
    "q_naer_triples", "q_naer_entities",
    # reference-core §2
    "q_gazetteer_link_j4", "q_alias_cc_j3", "q_structured_parse_p2",
    "q_json_parse_p1", "q_repair_parse", "q_answer_window_f4",
    "q_validate_f1", "q_line_projection_f2", "q_reassemble_f3",
    "q_none_filter_f5", "q_clean_name_f6", "q_lowercase_f7",
    "q_change_name_p5", "q_prompt_assembly_p6", "q_charset_key_j1",
    "q_jaccard_pairs_j1", "q_direct_classify_j2", "q_eval_pr_j5",
    "q_eval_pr_complex", "q_group_collect_a1", "q_occurrence_lines_a2",
    "q_dedup_a3", "q_set_ops", "q_argmax_window_a7",
}


def _last_hash_green_from_artifacts(root: Path) -> dict:
    """Each query's latest round N whose CORRECTNESS_r<N>.json under
    ``root`` records it hash-green. Rows- or schema-only greens do NOT
    count — the rotation is about value verification."""
    last = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.rsplit("_r", 1)[1])
        for q, v in json.loads(path.read_text()).items():
            if v.get("hash_match"):
                last[q] = max(last.get(q, 0), rnd)
    return last


def _stalest_first(extras, last: dict) -> list:
    return sorted(extras, key=lambda k: (last.get(k, 0), k))


def test_entry_runs_with_stable_schema(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["subj", "pred", "obj"]
    assert df.count() >= 0


def test_oracle_keys_match_queries():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_is_lazy_and_well_formed(spark, name):
    """Building the DataFrame (no DELIBERATE execution) must succeed at
    sf0.001 — catches schema drift against the driver tables early.
    Caveat (ADVICE r4): this cannot mechanically detect an eager
    .collect() at build time — every spark.read.parquet runs small
    schema-inference jobs, so job-count deltas don't discriminate; the
    one eager builder that existed (q_audio_decode) was fixed at the
    source (_synth_media_df synthesizes bytes inside mapInPandas).
    Iterative operators (CC/PageRank/IVF seeding) legitimately execute
    during build by design."""
    df = entrymod.queries()[name](spark, SF)
    assert len(df.columns) > 0


def test_window_contains_flagship_and_core():
    keys = list(entrymod.queries())
    window = set(keys[:DRIVER_WINDOW])
    missing = WINDOW_REQUIRED - window
    assert not missing, (
        f"queries() positions 1-50 lost required queries: {sorted(missing)}"
        " — the driver will not re-verify them this round"
    )
    assert WINDOW_REQUIRED <= set(entrymod.WINDOW_PINNED)


def test_spare_window_slots_hold_the_stalest_extras():
    """Positions 27-50 are exactly the 24 extras whose last hash-green
    round in the committed artifacts is oldest (never green first, name
    as the tiebreak) — a window computed from a stale round would put
    fresher queries there."""
    keys = list(entrymod.queries())
    pinned = WINDOW_REQUIRED
    assert set(keys[: len(pinned)]) == pinned
    extras = set(keys) - pinned
    last = _last_hash_green_from_artifacts(REPO)
    n_spare = DRIVER_WINDOW - len(pinned)
    assert keys[len(pinned):DRIVER_WINDOW] == _stalest_first(extras, last)[:n_spare]


def test_window_rotation_fills_spare_slots_with_stalest_extras():
    """The whole tail after the pinned head is ordered stalest-first,
    so every spare slot is at least as stale as anything left outside
    the window."""
    keys = list(entrymod.queries())
    pinned = entrymod.WINDOW_PINNED
    assert keys[: len(pinned)] == pinned
    last = _last_hash_green_from_artifacts(REPO)
    extras = keys[len(pinned):]
    assert extras == _stalest_first(extras, last)
    spare = keys[len(pinned):DRIVER_WINDOW]
    outside = keys[DRIVER_WINDOW:]
    if spare and outside:
        stale = lambda k: last.get(k, 0)  # noqa: E731
        assert max(map(stale, spare)) <= min(map(stale, outside))


def test_window_order_reads_rounds_as_integers_and_needs_no_artifacts(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(entrymod, "_ARTIFACTS", tmp_path)
    pinned = entrymod.WINDOW_PINNED
    extras = sorted(set(entrymod.oracle_sql()) - set(pinned))

    # no artifacts: every extra counts as never green -> name order
    keys = list(entrymod.queries())
    assert set(keys) == set(entrymod.oracle_sql())
    assert keys == pinned + extras

    # r10 is the round after r09, not a file a "r0*" glob skips or a
    # lexical sort misplaces: a is green in both, b only in r09
    a, b = extras[0], extras[1]
    green = {"hash_match": True}
    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({a: green, b: green})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({a: green, b: {"hash_match": False}})
    )
    keys = list(entrymod.queries())
    assert keys[: len(pinned)] == pinned
    assert keys[-2:] == [b, a]


def test_every_extra_enters_the_window_within_the_staleness_bound(
    tmp_path, monkeypatch
):
    """Spark-free simulation from the committed artifacts: each round
    the driver hash-verifies the first 50 keys and commits them as
    green. Every extra must enter the window within
    ceil(n_extras / n_spare_slots) rounds."""
    arts = sorted(REPO.glob("CORRECTNESS_r*.json"))
    for path in arts:
        shutil.copy(path, tmp_path / path.name)
    monkeypatch.setattr(entrymod, "_ARTIFACTS", tmp_path)
    latest = max(int(p.stem.rsplit("_r", 1)[1]) for p in arts)
    extras = set(entrymod.oracle_sql()) - WINDOW_REQUIRED
    bound = math.ceil(len(extras) / (DRIVER_WINDOW - len(WINDOW_REQUIRED)))

    entered = set()
    for rnd in range(latest + 1, latest + 1 + bound):
        window = list(entrymod.queries())[:DRIVER_WINDOW]
        assert WINDOW_REQUIRED <= set(window)
        entered.update(window)
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({q: {"hash_match": True} for q in window})
        )
    assert extras <= entered, (
        f"not re-verified within {bound} rounds: {sorted(extras - entered)}"
    )


def test_declaring_a_query_twice_raises():
    """A second builder under a registered name must fail at import,
    not silently replace the first one or shift the window."""
    before = entrymod.oracle_sql()

    def _q_validate_f1(spark, sf):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="q_validate_f1"):
        entrymod._oracle("SELECT 1")(_q_validate_f1)
    assert entrymod.oracle_sql() == before
    assert entrymod.queries()["q_validate_f1"] is not _q_validate_f1


def test_plan_snapshot_requires_an_output_path(tmp_path):
    """Without an argument the snapshot tool prints its usage and exits
    non-zero before Spark starts; it must not write a default file
    (which, run from the repo root, overwrote a committed snapshot)."""
    run = subprocess.run(
        [sys.executable, str(REPO / "tools" / "plan_snapshot.py")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode != 0
    assert "Usage: python tools/plan_snapshot.py <out_md>" in run.stderr
    assert list(tmp_path.iterdir()) == []
