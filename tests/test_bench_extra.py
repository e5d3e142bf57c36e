"""bench_extra argument checks that need no SparkSession."""

from __future__ import annotations

import pytest

import bench_extra


def test_run_audio_rejects_reps_below_one(monkeypatch):
    """reps < 1 is an error raised before any session starts, not a
    silent full run."""
    def no_session():
        raise AssertionError("run_audio started a SparkSession")

    monkeypatch.setattr(bench_extra, "_spark", no_session)
    for reps in (0, -1):
        with pytest.raises(ValueError, match="reps"):
            bench_extra.run_audio(reps)
