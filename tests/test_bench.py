"""Safety of the bench harness's on-host sf1 fixture tier."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def test_scaled_tier_leaves_user_dir_untouched(tmp_path, monkeypatch):
    """A user-supplied NGG_BENCH_SCALED_DIR without the _SYNTH_OK
    sentinel is skipped, never wiped; only the bench's own
    .benchdata/sf1 is rebuilt."""
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.1"))
    user = tmp_path / "my_fixture"
    user.mkdir()
    (user / "marker.txt").write_text("keep me")
    monkeypatch.setenv("NGG_BENCH_SCALED_DIR", str(user))
    monkeypatch.delenv("NGG_BENCH_SCALED", raising=False)
    assert bench._measure_scaled(None, {}) is None
    assert (user / "marker.txt").read_text() == "keep me"
