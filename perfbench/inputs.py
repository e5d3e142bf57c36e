"""Seeded input generators with planted truth.

Each generator writes the inputs the program reads (parquet or json
files under the run's work dir) and returns the planted truth, which
stays on the benchmark side: the program sees only the generated rows.
The same seed gives the same rows.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import refsim

# bench-sized and smoke-test-sized inputs per workload
SIZES = {
    "bench": {
        "audio_n_base": 1000,
        "text_top_group": (540, 560), "text_rest_group": 30, "text_groups": 12,
        "text_unique": 250,
        "ingest_index": 1500, "ingest_batches": 3, "ingest_batch_rows": 300,
        "ingest_warm_batches": 1,
        "stream_events": 2000, "stream_files": 5, "stream_warm_files": 2,
    },
    "smoke": {
        "audio_n_base": 40,
        "text_top_group": (20, 30), "text_rest_group": 6, "text_groups": 4,
        "text_unique": 30,
        "ingest_index": 100, "ingest_batches": 2, "ingest_batch_rows": 30,
        "ingest_warm_batches": 1,
        "stream_events": 600, "stream_files": 3, "stream_warm_files": 2,
    },
}

_SYLLABLES = ["ka", "lo", "mi", "ten", "ra", "vos", "el", "un", "pri", "sa",
              "dor", "ve", "to", "ban", "qui", "ne", "sol", "ar", "fu", "zi"]
BOILERPLATE = ["Wire Service Desk", "Reporting by the Regional Bureau",
               "Copyright Syndicate Newswire"]


def _vocab(rng: np.random.Generator, n: int = 4000) -> np.ndarray:
    """Distinct pseudo-words of 3-8 letters: a one-word edit then moves
    at most 16 of a doc's 9-shingles. An array, so each draw from it
    does not convert a list."""
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES, size=int(rng.integers(2, 4))))
        if 3 <= len(w) <= 8:
            words.add(w)
    return np.array(sorted(words))


def _doc(rng, vocab, lo: int, hi: int) -> list[str]:
    return list(rng.choice(vocab, size=int(rng.integers(lo, hi))))


def _restyle(rng, words: list[str]) -> str:
    """A rewrite that normalizes to the same text: case, punctuation,
    or a boilerplate suffix after a pipe (normalize keeps the longest
    pipe part)."""
    style = int(rng.integers(0, 3))
    if style == 0:
        return " ".join(words).upper() + "!!"
    if style == 1:
        return " ".join(w + ("," if rng.uniform() < 0.15 else "") for w in words) + "."
    return " ".join(words) + " | " + str(rng.choice(BOILERPLATE))


def _edit(rng, vocab, words: list[str]) -> list[str]:
    """One word replaced: with docs of >= 70 words (> 500 distinct
    9-shingles), any two one-edit rewrites of a doc keep exact Jaccard
    >= (500 - 32) / (500 + 32) = 0.88, safely above the 0.8 threshold."""
    out = list(words)
    out[int(rng.integers(0, len(out)))] = str(rng.choice(vocab))
    return out


def _ids(rng, n: int, prefix: str) -> list[str]:
    """Opaque ids in a seeded random order, so ids carry no truth."""
    return [f"{prefix}{i:06d}" for i in rng.permutation(n)]


@dataclass
class Corpus:
    path: str
    n_rows: int
    truth: dict[str, str]          # clip_id -> planted group
    transcripts: dict[str, str]    # clip_id -> source transcript
    extra: dict = field(default_factory=dict)


def audio_corpus(spark, work: Path, seed: int, size: dict) -> Corpus:
    """``synth.make_corpus_dist``: base clips plus exact, near-text,
    containment and near-audio dups. The group id is truth and is not
    written; the program reads every other column."""
    from sems_event_deduplication_spark.synth import make_corpus_dist

    path = str(work / "audio_clips")
    make_corpus_dist(spark, n_base=size["audio_n_base"], seed=seed).drop(
        "group_id"
    ).write.mode("overwrite").parquet(path)
    # clip ids are c<gid>_<kind>; rows of one gid are one planted group
    rows = spark.read.parquet(path).select(
        "clip_id", "transcript", "codec",
        F.when(F.col("clip_id").rlike("_(base|nearaud)$"), F.col("bytes")).alias("bytes"),
    ).collect()
    truth = {r["clip_id"]: r["clip_id"].split("_")[0] for r in rows}
    near = [r for r in rows if r["clip_id"].endswith("_nearaud")]
    base = {r["clip_id"].split("_")[0]: r for r in rows if r["clip_id"].endswith("_base")}
    # the generator's noisiest copies occasionally land beyond the
    # threshold; the frozen reference rule decides, never the package
    unpairable = [
        r["clip_id"] for r in near
        if not refsim.pairable(*((x["bytes"], x["codec"]) for x in (base[truth[r["clip_id"]]], r)))
    ]
    for clip_id in unpairable:
        truth[clip_id] = clip_id
    return Corpus(path, len(rows), truth, {r["clip_id"]: r["transcript"] for r in rows},
                  {"near_audio_pairs": len(near), "near_audio_unpairable": len(unpairable)})


def _clip_frame(ids: list[str], texts: list[str]) -> pd.DataFrame:
    """Transcript-only rows in the pipeline's clip schema: empty
    payloads, so the audio layer has nothing to do."""
    n = len(ids)
    return pd.DataFrame({
        "clip_id": ids,
        "bytes": [b""] * n,
        "sr_hz": [16000] * n,
        "dur_ms": [0] * n,
        "codec": ["pcm_s16le"] * n,
        "transcript": texts,
        "event_date": [pd.Timestamp("2023-05-01").date()] * n,
    })


def text_corpus(spark, work: Path, seed: int, size: dict) -> Corpus:
    """Wire stories syndicated into groups of rewrites, mixed with
    unique docs: one top story and a Zipf tail of smaller groups. The
    top group exceeds
    ``max_bucket_size`` (256) at bench size, so the star-bucket path
    runs. Every rewrite is a restyle (exact tier after normalizing) or a
    one-word edit (near tier)."""
    from sems_event_deduplication_spark.synth import AUDIO_CLIPS_SCHEMA

    rng = np.random.default_rng([seed, 1, 0])
    vocab = _vocab(rng)
    top = int(rng.integers(*size["text_top_group"]))
    rest = size["text_rest_group"]
    sizes = [top] + [max(2, round(rest / r ** 1.1)) for r in range(1, size["text_groups"])]
    texts, groups = [], []
    for g, n in enumerate(sizes):
        words = _doc(rng, vocab, 70, 90)
        texts.append(" ".join(words))
        # the top story's rewrites are all edited, so they stay distinct
        # after exact dedup; each band's bucket keeps roughly 60-75% of
        # them, far above 256 (at 400 rewrites one band in 24 fell to
        # 256 and enumerated 32k pairs)
        p_edit = 1.0 if g == 0 else 0.5
        for _ in range(n - 1):
            w = _edit(rng, vocab, words) if rng.uniform() < p_edit else words
            texts.append(_restyle(rng, w))
        groups += [f"w{g}"] * n
    for u in range(size["text_unique"]):
        texts.append(" ".join(_doc(rng, vocab, 70, 90)))
        groups.append(f"u{u}")
    ids = _ids(rng, len(texts), "d")
    path = str(work / "text_clips")
    schema = AUDIO_CLIPS_SCHEMA.fields
    spark.createDataFrame(
        _clip_frame(ids, texts),
        schema=type(AUDIO_CLIPS_SCHEMA)([f for f in schema if f.name != "group_id"]),
    ).repartition(8).write.mode("overwrite").parquet(path)
    return Corpus(path, len(ids), dict(zip(ids, groups)), dict(zip(ids, texts)),
                  {"top_group": top})


@dataclass
class IngestInputs:
    index_path: str
    batch_paths: list[str]
    batch_rows: list[int]
    expected_hits: list[set[str]]  # per batch: ids that must match


def ingest_inputs(spark, work: Path, seed: int, size: dict) -> IngestInputs:
    """A standing index of unique docs and daily batches against it.
    Each batch carries restyled copies of index docs (exact tier),
    one-word edits of index docs (near tier), from the second batch on
    edits of an earlier batch's novel docs (found only in the appended
    increments), and fresh novel docs."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    n_idx = size["ingest_index"]
    index_docs = [_doc(rng, vocab, 40, 60) for _ in range(n_idx)]
    frames = [pd.DataFrame({"clip_id": _ids(rng, n_idx, "x"), "part": "index",
                            "transcript": [" ".join(d) for d in index_docs]})]

    unused = list(rng.permutation(n_idx))
    earlier_novel: list[list[str]] = []
    n_rows, expected = [], []
    m = size["ingest_batch_rows"]
    for b in range(size["ingest_batches"]):
        texts, hit = [], []
        n_exact, n_near = int(0.15 * m), int(0.2 * m)
        n_prev = int(0.2 * m) if earlier_novel else 0
        for _ in range(n_exact):
            texts.append(_restyle(rng, index_docs[unused.pop()])); hit.append(True)
        for _ in range(n_near):
            texts.append(" ".join(_edit(rng, vocab, index_docs[unused.pop()]))); hit.append(True)
        for _ in range(n_prev):
            prev = earlier_novel.pop(int(rng.integers(0, len(earlier_novel))))
            texts.append(" ".join(_edit(rng, vocab, prev))); hit.append(True)
        fresh = [_doc(rng, vocab, 40, 60) for _ in range(m - len(texts))]
        texts += [" ".join(d) for d in fresh]
        hit += [False] * len(fresh)
        earlier_novel += fresh
        ids = [f"b{b}_{i}" for i in _ids(rng, len(texts), "")]
        frames.append(pd.DataFrame({"clip_id": ids, "part": f"b{b}", "transcript": texts}))
        n_rows.append(len(ids))
        expected.append({i for i, h in zip(ids, hit) if h})
    # one write; each part is read back as its own table
    root = work / "ingest_src"
    spark.createDataFrame(pd.concat(frames)).repartition(4).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(str(root))
    paths = [str(root / f"part=b{b}") for b in range(len(n_rows))]
    return IngestInputs(str(root / "part=index"), paths, n_rows, expected)


@dataclass
class StreamInputs:
    path: str
    n_events: int
    n_files: int
    planted: set[tuple[str, str]]
    warm_path: str      # a copy of the first files, for the warm-up drain
    warm_ids: set[str]  # the events in those files


def _stamp_in_order(src: str) -> None:
    """File streams batch by modification time: give part files strictly
    increasing mtimes in name order, which is event-time order (see
    ``bench.run_streaming_bench``)."""
    parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
    t0 = time.time() - len(parts) - 10
    for i, f in enumerate(parts):
        os.utime(os.path.join(src, f), (t0 + i, t0 + i))


def stream_inputs(spark, work: Path, seed: int, size: dict) -> StreamInputs:
    """A bounded json file stream, 10 events per second of event time.
    Every 33rd event is a near dup of its predecessor (one extra
    token); one event in ten carries a shared boilerplate line, whose
    shingles land among the bucket keys of many docs (hot keys) without
    making those docs near dups."""
    def docs(n: int, parts: int):
        is_dup = F.pmod(F.col("id"), 33) == 32
        base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
        tokens = [
            F.md5(F.concat_ws(":", F.lit(str(seed)), base.cast("string"), F.lit(str(i))))
            for i in range(20)
        ]
        boiler = F.pmod(F.xxhash64(F.lit(seed), base), 10) == 0
        return spark.range(0, n, 1, parts).select(
            F.concat(F.lit("e"), F.col("id")).alias("clip_id"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(secs=F.col("id") / F.lit(10.0))).alias("ts"),
            F.concat_ws(
                " ", *tokens,
                F.when(is_dup, F.lit("extra")),
                F.when(boiler, F.lit(" ".join(BOILERPLATE))),
            ).alias("transcript"),
        )

    n, files = size["stream_events"], size["stream_files"]
    path = str(work / "stream_docs")
    docs(n, files).write.mode("overwrite").json(path)
    _stamp_in_order(path)
    warm = work / "stream_warm"
    warm.mkdir(parents=True, exist_ok=True)
    warm_ids: set[str] = set()
    for f in sorted(f for f in os.listdir(path) if f.startswith("part-"))[: size["stream_warm_files"]]:
        shutil.copy2(os.path.join(path, f), warm)
        with open(os.path.join(path, f)) as fh:
            warm_ids |= {json.loads(line)["clip_id"] for line in fh if line.strip()}
    planted = set()
    for i in range(32, n, 33):
        a, b = f"e{i - 1}", f"e{i}"
        planted.add((min(a, b), max(a, b)))
    return StreamInputs(path, n, files, planted, str(warm), warm_ids)
