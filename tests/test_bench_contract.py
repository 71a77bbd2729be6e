"""bench.py's driver contract: the LAST stdout line must be a compact
self-contained headline JSON that fits the driver's ~2000-char stdout
tail (VERDICT r4 #2 — the r4 blob outgrew the tail and the round lost
its machine-readable bench record)."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench


def _worst_case_result():
    """A result dict at least as large as any real run produces: every
    headliner + flagship + transport timings, maximal key lengths and
    ugly float reprs."""
    queries = {
        "naer_kg_pipeline": 1234.5678901234567,
        "q_pricing_summary": 1234.5678901234567,
        "q_revenue_by_nation": 1234.5678901234567,
        "q_argmax_window_a7": 1234.5678901234567,
        "q_exact_dedup": 1234.5678901234567,
        "q_lsh_pairs": 1234.5678901234567,
        "q_ngram_jaccard": 1234.5678901234567,
        "q_ann_cosine_topk": 1234.5678901234567,
        "q_token_count": 1234.5678901234567,
        "q_bm25_topk": 1234.5678901234567,
        "q_funnel_levels": 1234.5678901234567,
        "q_naer_triples": 1234.5678901234567,
    }
    return {
        "metric": "naer_kg_headline_total",
        "value": 12345.6789012345,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "n_docs": 4_000_000,
        "n_triples": 123_456_789,
        "triples_per_sec": 2_190_000.123,
        "naer_entities_closure_sec": 1234.5678901234567,
        "naer_entities_docgaz_sec": 1234.5678901234567,
        "docgaz_overhead_x": 1.2345,
        # giant instrumentation maps that broke r4 — must NOT leak into
        # the compact line
        "rep_times": {k: [1.1, 2.2, 3.3] for k in queries},
        "probe_ms": {k: [50.0, 63.0, 71.5] for k in queries},
        "cache_bust_workers": {k: 32 for k in queries},
    }


def test_compact_headline_fits_driver_tail():
    compact = bench.compact_headline(_worst_case_result())
    line = json.dumps(compact)
    assert len(line) < 1800, f"compact headline {len(line)} chars"
    # self-contained: the headline metric/value/unit/queries survive
    assert compact["metric"] == "naer_kg_headline_total"
    assert compact["unit"] == "sec"
    assert "naer_kg_pipeline" in compact["queries"]
    # instrumentation blobs never ride the compact line
    for k in ("rep_times", "probe_ms", "cache_bust_workers"):
        assert k not in compact


def test_compact_headline_prefers_dropping_extras_over_flagship():
    r = _worst_case_result()
    # inflate with many synthetic per-query entries to force trimming
    for i in range(200):
        r["queries"][f"q_padding_entry_number_{i:04d}"] = 999.123456789
    before = dict(r["queries"])
    compact = bench.compact_headline(r)
    line = json.dumps(compact)
    assert len(line) < 1800
    assert "naer_kg_pipeline" in compact["queries"]
    # the trim works on a copy: the caller's full result stays whole
    assert len(compact["queries"]) < len(before)
    assert r["queries"] == before
