"""Offset/containment audio dedup (operators/audio_segments.py).

The planted relation the clip-level SimHash cannot catch: a short clip
embedded at an arbitrary offset inside a longer host recording.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sems_event_deduplication_spark.conf import DedupConfig
from sems_event_deduplication_spark.functions.audio import (
    audio_landmarks,
    decode_pcm,
)
from sems_event_deduplication_spark.operators.audio_segments import audio_offset_pairs
from sems_event_deduplication_spark.synth import _encode, _tone

CFG = DedupConfig()


def _corpus_with_offsets(n_base: int, n_planted: int, seed: int = 7) -> tuple[pd.DataFrame, set]:
    """n_base distinct clips; n_planted of them also embedded inside a
    longer host clip. Returns (pdf, expected offset pairs)."""
    rng = np.random.default_rng(seed)
    sr = 16000
    rows, expected = [], set()
    for i in range(n_base):
        clip = _tone(rng, sr, float(rng.uniform(1.0, 2.0)), n_partials=8)
        rows.append({"clip_id": f"s{i:04d}", "bytes": _encode(clip, "pcm_s16le"),
                     "codec": "pcm_s16le"})
        if i < n_planted:
            pre = _tone(rng, sr, float(rng.uniform(0.5, 1.5)), n_partials=8)
            post = _tone(rng, sr, float(rng.uniform(0.5, 1.5)), n_partials=8)
            host = np.concatenate([pre, clip, post])
            rows.append({"clip_id": f"h{i:04d}", "bytes": _encode(host, "pcm_s16le"),
                         "codec": "pcm_s16le"})
            expected.add((f"h{i:04d}", f"s{i:04d}"))
    return pd.DataFrame(rows), expected


def test_landmark_set_containment_property():
    """The embedded clip's landmark set is ~contained in the host's
    (at an arbitrary, non-hop-aligned offset); two unrelated clips
    overlap ~nothing."""
    rng = np.random.default_rng(0)
    sr = 16000
    clip = _tone(rng, sr, 1.5, n_partials=8)
    pre = _tone(rng, sr, 1.013, n_partials=8)   # deliberately unaligned
    post = _tone(rng, sr, 0.7, n_partials=8)
    host = np.concatenate([pre, clip, post])
    other = _tone(np.random.default_rng(99), sr, 1.5, n_partials=8)

    def fps(x):
        buf = _encode(x, "pcm_s16le")
        return set(audio_landmarks(
            decode_pcm(buf, "pcm_s16le"), CFG.fft_frame, CFG.fft_hop // 2,
        ).tolist())

    a, h, o = fps(clip), fps(host), fps(other)
    contain = len(a & h) / min(len(a), len(h))
    unrelated = len(a & o) / min(len(a), len(o))
    assert contain >= 0.8, contain
    assert unrelated < 0.3, unrelated


def test_offset_pairs_end_to_end(spark):
    pdf, expected = _corpus_with_offsets(n_base=40, n_planted=8)
    df = spark.createDataFrame(pdf)
    got = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in audio_offset_pairs(df, CFG, containment_threshold=0.8).collect()
    }
    exp = {(max(a, b), min(a, b)) for a, b in expected}
    missed = exp - got
    assert not missed, f"missed offset dups: {missed}"
    extras = got - exp
    # precision: no unrelated clips should reach 0.8 containment
    assert len(extras) <= 1, f"unexpected pairs: {extras}"


def test_pipeline_offset_tier(spark):
    """with_offset_audio=True links embedded clips into the host's
    component in the flagship pipeline."""
    import tempfile

    from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    pdf, expected = _corpus_with_offsets(n_base=20, n_planted=4)
    pdf["sr_hz"] = 16000
    pdf["dur_ms"] = 1000
    pdf["transcript"] = [f"unrelated transcript {i} kuri zalo ten" for i in range(len(pdf))]
    df = spark.createDataFrame(pdf)
    cfg = DedupConfig(with_offset_audio=True)
    wh = WarehouseIO(spark, tempfile.mkdtemp(prefix="wh_offset_"))
    res = DedupPipeline(spark, cfg, wh).run(df, with_audio=True)
    comp = {r["clip_id"]: r["component"] for r in res.survivors.sparkSession.read.parquet(
        wh._path("components")).collect()}
    for host, short in expected:
        assert comp[host] == comp[short], (host, short)


def test_pipeline_offset_tier_fused(spark, tmp_path):
    """Pipeline with with_offset_audio=True: landmarks are computed in
    the SAME payload pass as the SimHash (fused UDF), the offset tier
    reads them from the checkpointed signatures table, and every
    planted (host, short) pair ends up in one component — with
    transcripts distinct so only the audio-offset tier can link them."""
    from sems_event_deduplication_spark.plans.pipeline import DedupPipeline
    from sems_event_deduplication_spark.sources.warehouse import WarehouseIO

    pdf, expected = _corpus_with_offsets(n_base=24, n_planted=6)
    sr = 16000
    pdf["sr_hz"] = sr
    pdf["dur_ms"] = [len(b) // 2 * 1000 // sr for b in pdf["bytes"]]
    pdf["transcript"] = [
        f"wholly distinct transcript number {i} with its own words"
        for i in range(len(pdf))
    ]
    df = spark.createDataFrame(pdf)

    cfg = DedupConfig(with_offset_audio=True)
    res = DedupPipeline(spark, cfg, WarehouseIO(spark, str(tmp_path))).run(
        df, with_audio=True, payload_in_survivors=False
    )
    comp = {
        m: r["component"]
        for r in res.clusters.collect()
        for m in r["member_ids"]
    }
    for h, s in expected:
        assert comp.get(h) is not None and comp.get(h) == comp.get(s), (
            f"offset pair ({h},{s}) not co-clustered: "
            f"{comp.get(h)} vs {comp.get(s)}"
        )
    # sanity: the signatures table carried the landmarks column
    sigs = spark.read.parquet(str(tmp_path) + "/signatures")
    assert "landmarks" in sigs.columns


def test_count_verify_mode_matches_exact(spark):
    """verify_mode='count' (scale form: no landmark array rides the
    pair join) must reproduce the exact mode bit-for-bit — same pair
    set AND same containment values — when no landmark bucket hits the
    star cap (landmarks are distinct per clip, so the candidate join's
    co-occurrence count IS |A ∩ B|)."""
    from sems_event_deduplication_spark.operators.audio_segments import (
        audio_offset_pairs_from_sigs, audio_segment_signatures,
    )

    pdf, _ = _corpus_with_offsets(n_base=30, n_planted=6)
    sigs = audio_segment_signatures(spark.createDataFrame(pdf), CFG).persist()
    try:
        def run(mode):
            return {
                (r["id_a"], r["id_b"]): round(r["containment"], 9)
                for r in audio_offset_pairs_from_sigs(
                    sigs, CFG, containment_threshold=0.5, verify_mode=mode
                ).collect()
            }

        exact, count = run("exact"), run("count")
        assert exact == count, (
            set(exact.items()) ^ set(count.items())
        )
        assert exact, "fixture produced no pairs — parity test vacuous"
        with pytest.raises(ValueError, match="verify_mode"):
            run("nope")
    finally:
        sigs.unpersist()


def test_count_verify_mode_never_over_admits_under_star_cap(spark):
    """With max_bucket_size forced tiny (every landmark bucket
    star-capped), the count mode's containment is a lower bound: its
    pair set must be a subset of the exact mode's — degraded recall is
    acceptable and measured, phantom pairs are not."""
    from sems_event_deduplication_spark.conf import DedupConfig as DC
    from sems_event_deduplication_spark.operators.audio_segments import (
        audio_offset_pairs_from_sigs, audio_segment_signatures,
    )

    cfg = DC(max_bucket_size=2)
    pdf, _ = _corpus_with_offsets(n_base=30, n_planted=6)
    sigs = audio_segment_signatures(spark.createDataFrame(pdf), cfg).persist()
    try:
        def pairs(mode):
            return {
                (r["id_a"], r["id_b"])
                for r in audio_offset_pairs_from_sigs(
                    sigs, cfg, containment_threshold=0.5, verify_mode=mode
                ).collect()
            }

        assert pairs("count") <= pairs("exact")
    finally:
        sigs.unpersist()
