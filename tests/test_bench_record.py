"""The bench's compact second line is what survives the driver's
~2000-char stdout tail capture (BENCH_r07 parsed null when the full
line outgrew it) — pin its invariants against the REAL current record
shape (the committed BENCH_local.json mirror) so a field added to the
full record cannot silently push the compact line past the window.
No Spark needed: pure record-shaping logic."""

import json
import os

import bench

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _current_record() -> dict:
    with open(os.path.join(_REPO, "BENCH_local.json")) as f:
        return json.load(f)


def test_compact_line_fits_budget_on_current_record():
    out = _current_record()
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    parsed = json.loads(line)  # one complete parseable object
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["value"] == out["value"]


def test_compact_drops_diagnostics_keeps_calibration():
    out = _current_record()
    parsed = json.loads(bench.compact_record(out))
    # calibration fields MUST survive — verdicts divide by them
    assert "anchor_ratio" in parsed
    if "stream_anchor_ratio" in out:
        assert "stream_anchor_ratio" in parsed
    # disclosure/diagnostic fields must not bloat the window
    assert not any(k.endswith("_cold") for k in parsed)
    for k in bench._COMPACT_DROP:
        assert k not in parsed, k


def test_compact_survives_headline_growth():
    """Even with a padded query map (future headline growth), the
    rounding fallback must land the line inside the budget."""
    out = _current_record()
    out = dict(out)
    out["queries"] = {**out["queries"], **{f"future_query_{i}": 1.234 for i in range(14)}}
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    json.loads(line)


def test_compact_keeps_start_end_anchor_ratios_drops_raw_trios():
    """r9 VERDICT item 3: the start/end anchor ratios are calibration
    fields and must survive the compact line; the raw trio timing maps
    are diagnostics and must not."""
    out = dict(_current_record())
    out["anchor_ratio_start"] = 0.97
    out["anchor_ratio_end"] = 1.21
    out["anchor_start"] = {"q1_pricing_summary": 1.7}
    out["anchor_end"] = {"q1_pricing_summary": 2.1}
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET
    parsed = json.loads(line)
    assert parsed["anchor_ratio_start"] == 0.97
    assert parsed["anchor_ratio_end"] == 1.21
    assert "anchor_start" not in parsed and "anchor_end" not in parsed


def test_compact_final_tier_never_exceeds_budget(monkeypatch):
    """r9 ADVICE: when even a single kept query overflows the budget,
    compact_record must drop the queries map entirely rather than
    return an over-budget line."""
    out = dict(_current_record())
    scalars_len = len(
        bench.compact_json(
            {
                k: v
                for k, v in out.items()
                if k not in bench._COMPACT_DROP
                and not k.endswith("_cold")
                and k != "queries"
            }
        )
    )
    # budget admits the scalar fields plus the omission marker, but not
    # one more query entry — the pre-fix keep==1 tier overflowed here
    monkeypatch.setattr(bench, "_COMPACT_BUDGET", scalars_len + 40)
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["queries_omitted"] == len(out["queries"])


def test_compact_keeps_fanout_100k_field_in_budget():
    """r10 VERDICT item 5: the standing full-width fanout lane's gate
    metric must survive compaction (the verdict reads it against the
    reference's 100k-active-tables claim); its cold-batch disclosure is
    full-line/mirror-only."""
    out = dict(_current_record())
    out["cdc_fanout_events_per_sec_100000t"] = 112902
    out["cdc_fanout_100000t_sec_cold"] = 21.47
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["cdc_fanout_events_per_sec_100000t"] == 112902
    assert "cdc_fanout_100000t_sec_cold" not in parsed


def test_compact_keeps_live_trigger_point_in_budget():
    """r10 VERDICT item 4: the live 250 ms-trigger latency point is the
    gate-relevant Python-posture number — it must survive compaction
    alongside the 100k fanout field."""
    out = dict(_current_record())
    out["stream_live_p50_ms"] = 168.0
    out["stream_live_p95_ms"] = 208.0
    out["cdc_fanout_events_per_sec_100000t"] = 112902
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["stream_live_p50_ms"] == 168.0


def test_compact_keeps_full_query_map_on_current_record():
    """r11: when the live-trigger and 100k-lane fields landed, the
    compact line silently crossed the budget and the truncation tier
    halved the query map — the driver's parsed record IS the compact
    line, so half the per-query data would have vanished from
    BENCH_r11. Pin: the current record's compact form keeps EVERY
    query (truncation is for genuine emergencies, not steady state)."""
    out = _current_record()
    parsed = json.loads(bench.compact_record(out))
    assert len(parsed["queries"]) == len(out["queries"])
    assert "queries_omitted" not in parsed


def test_compact_keeps_segment_spread_drops_raw_reads():
    """r13 instrument: the per-segment q3 reads are raw diagnostics
    (full line + mirror only); the compact line carries the spread
    scalar (and ratios once pinned) without busting the budget."""
    out = dict(_current_record())
    out["anchor_seg_q3"] = [0.71, 0.74, 0.93, 0.72]
    out["anchor_seg_spread"] = 1.31
    out["anchor_seg_ratios"] = [1.0, 1.04, 1.31, 1.01]
    line = bench.compact_record(out)
    assert len(line) <= bench._COMPACT_BUDGET, len(line)
    parsed = json.loads(line)
    assert "anchor_seg_q3" not in parsed
    assert parsed["anchor_seg_spread"] == 1.31
    assert parsed["anchor_seg_ratios"] == [1.0, 1.04, 1.31, 1.01]
