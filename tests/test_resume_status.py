"""``CDCEngine`` resumes by the stored watermark status.

Stub callables stand in for the source and the sink, so no Spark
session is needed. The stored snapshot has low 10 and high 20; the
source's latest position is 30. The reference resumes from the high
watermark whenever one is stored and ignores the status; this engine
reads the status instead:

- ``SNAPSHOT_DONE``: the catchup never finished, so the stream starts
  at ``low`` and replays (low, high];
- ``ACTIVE``: the snapshot never finished, so resuming raises;
- ``COMPLETED``: the stream starts at ``high``.
"""

from __future__ import annotations

import pytest

from xxt_cdc_spark.engine import CDCEngine, WatermarkStore

LOW, HIGH, LATEST = 10, 20, 30


def _engine(tmp_path, status: str | None):
    calls = {"changelog": [], "applied": []}

    def changelog(lo, hi):
        calls["changelog"].append((lo, hi))
        return f"changes({lo}, {hi})"

    eng = CDCEngine(
        spark=None,
        snapshot_source=lambda: pytest.fail("resume must not re-read the snapshot"),
        changelog=changelog,
        current_position=lambda: LATEST,
        apply_fn=calls["applied"].append,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    if status is not None:
        high = None if status == "ACTIVE" else HIGH
        WatermarkStore(eng.checkpoint_dir).save(eng.snapshot_id, LOW, high, status)
    return eng, calls


class TestResumeByWatermarkStatus:
    def test_snapshot_done_replays_the_catchup_from_low(self, tmp_path):
        eng, calls = _engine(tmp_path, "SNAPSHOT_DONE")
        stats = eng.start(enable_snapshot=False, stream=True)
        assert stats["start_position"] == LOW
        assert calls["changelog"] == [(LOW, None)]
        assert calls["applied"] == [f"changes({LOW}, None)"]

    def test_active_refuses_to_stream_over_a_half_loaded_snapshot(self, tmp_path):
        eng, calls = _engine(tmp_path, "ACTIVE")
        with pytest.raises(RuntimeError, match=r"snapshot 'snap-0' is half-loaded.*ACTIVE"):
            eng.start(enable_snapshot=False, stream=True)
        assert calls == {"changelog": [], "applied": []}

    def test_completed_streams_from_high(self, tmp_path):
        eng, calls = _engine(tmp_path, "COMPLETED")
        assert eng.start(enable_snapshot=False, stream=True)["start_position"] == HIGH
        assert calls["changelog"] == [(HIGH, None)]

    def test_no_watermark_streams_from_the_latest_position(self, tmp_path):
        eng, calls = _engine(tmp_path, None)
        assert eng.start(enable_snapshot=False, stream=True)["start_position"] == LATEST
        assert calls["changelog"] == [(LATEST, None)]
