"""Frozen reference audio SimHash: the benchmark's own oracle for which
planted near-audio copies count as planted pairs.

This is a copy of the package's decode -> STFT -> band-difference
fingerprint -> sign-projection SimHash as it stood when the benchmark
was defined, with every parameter fixed here as a constant. It must not
import the package: truth that is computed by the code under test moves
with it, so a regression in the signature kernel or a change of its
threshold would shrink the planted set instead of lowering recall.
Keep it frozen; a deliberate change of the decision rule is a change
of the benchmark.
"""

from __future__ import annotations

import numpy as np

FRAME = 1024
HOP = 512
N_BANDS = 64
FLOOR_DB = 22.0
BITS = 128
SEED = 42
HAMMING_THRESHOLD = 3


def decode(buf: bytes, codec: str) -> np.ndarray:
    """Float PCM of the two codecs ``synth.make_corpus_dist`` writes."""
    if codec == "pcm_s16le":
        return np.frombuffer(buf, dtype="<i2").astype(np.float32) / 32768.0
    if codec == "pcm_f32le":
        return np.frombuffer(buf, dtype="<f4").astype(np.float32)
    raise ValueError(f"reference decoder has no codec {codec!r}")


def _band_edges(n_bins: int) -> np.ndarray:
    edges = np.unique(np.clip(
        np.round(np.logspace(0, np.log10(n_bins - 1), N_BANDS + 1)).astype(np.int64),
        1, n_bins - 1,
    ))
    if len(edges) < N_BANDS + 1:
        have = set(edges.tolist())
        fill = [x for x in range(1, n_bins) if x not in have][: N_BANDS + 1 - len(edges)]
        edges = np.sort(np.concatenate([edges, np.asarray(fill, dtype=np.int64)]))
    return edges


def fingerprint(pcm: np.ndarray) -> np.ndarray:
    """Unit-norm adjacent-band log-energy differences of the Hann STFT,
    bands below ``FLOOR_DB`` of the peak band flattened."""
    if len(pcm) < FRAME:
        pcm = np.pad(pcm, (0, FRAME - len(pcm)))
    frames = np.lib.stride_tricks.sliding_window_view(pcm, FRAME)[::HOP] * np.hanning(FRAME)
    mag = np.abs(np.fft.rfft(frames, axis=1))
    edges = _band_edges(mag.shape[1])
    band_e = np.add.reduceat((mag * mag).sum(axis=0), edges[:-1])[:N_BANDS]
    out = np.zeros(N_BANDS, dtype=np.float64)
    if band_e.sum() <= 1e-20:
        return out
    d = np.diff(np.log(np.maximum(band_e, band_e.max() * 10.0 ** (-FLOOR_DB / 10.0))))
    nrm = float(np.linalg.norm(d))
    if nrm > 0.0:
        out[: N_BANDS - 1] = d / nrm
    return out


_PROJ = np.random.default_rng(SEED + 7_919).standard_normal((BITS, N_BANDS))


def simhash(buf: bytes, codec: str) -> np.ndarray:
    """The ``BITS`` sign bits of the projected fingerprint."""
    return (_PROJ @ fingerprint(decode(buf, codec))) > 0


def pairable(a: tuple[bytes, str], b: tuple[bytes, str]) -> bool:
    """Whether two (payload, codec) clips are within the fixed Hamming
    threshold of each other."""
    return int(np.count_nonzero(simhash(*a) != simhash(*b))) <= HAMMING_THRESHOLD
