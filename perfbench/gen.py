"""Seeded input generators for the benchmark's workloads.

Everything here is NumPy/pandas only: the package under test never runs
while inputs are made, and it only ever sees the files written here.
The same ``(seed, size)`` always gives byte-identical inputs.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

FS = 100.0  #: samples per second of a recording (the reference's implicit rate)
N_CHANNELS = 9  #: channels per recording (the reference hardcodes 9)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# --- recordings -------------------------------------------------------------


@dataclass(frozen=True)
class Recording:
    """One synthetic ABF recording: ``signal`` is (samples, channels)
    float32 and ``beats[c]`` the injected contraction centres of channel
    ``c`` in sample units."""

    signal: np.ndarray
    beats: tuple


def force_trace(seed: int, rec: int, channel: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """FIXTURES.md section 1 force trace: slow drift, one Gaussian
    contraction per second (sigma 0.06 s, amplitude 1 + 0.05 (k mod 5))
    and N(0, 0.01) noise. The seed jitters each contraction by up to
    +-0.1 s and shifts the drift phase, so channels differ."""
    g = _rng(seed, 1, rec, channel)
    t = np.arange(n) / FS
    phase = g.uniform(0.0, 2 * np.pi)
    y = 2.0 + 0.3 * np.sin(2 * np.pi * t / 60.0 + phase)
    ks = np.arange(2, int(n / FS) - 2)
    centres = ks + g.uniform(-0.1, 0.1, size=ks.size)
    for k, tk in zip(ks, centres):
        y += (1.0 + 0.05 * (k % 5)) * np.exp(-((t - tk) ** 2) / (2 * 0.06**2))
    y += g.normal(0.0, 0.01, size=n)
    return y, np.rint(centres * FS).astype(np.int64)


def recording(seed: int, rec: int, n_samples: int) -> Recording:
    cols, beats = [], []
    for c in range(N_CHANNELS):
        y, b = force_trace(seed, rec, c, n_samples)
        cols.append(y)
        beats.append(tuple(int(v) for v in b))
    return Recording(np.stack(cols, axis=1).astype("<f4"), tuple(beats))


def write_abf1(path: str, signal: np.ndarray, fs: float = FS) -> None:
    """Gap-free float32 ABF1 file from the public header map: magic,
    operation mode 3, sample count over all channels, data pointer in
    512-byte blocks, data format 1, channel count and the per-conversion
    sample interval in microseconds; channels interleaved after a
    2048-byte header. Written here, not with the package's writer, so a
    fault shared by the package's reader and writer cannot cancel out."""
    arr = np.ascontiguousarray(signal, dtype="<f4")
    n, c = arr.shape
    header = bytearray(2048)
    header[:4] = b"ABF "
    struct.pack_into("<f", header, 4, 1.83)  # fFileVersionNumber
    struct.pack_into("<h", header, 8, 3)  # nOperationMode: gap-free
    struct.pack_into("<i", header, 10, n * c)  # lActualAcqLength
    struct.pack_into("<i", header, 40, 2048 // 512)  # lDataSectionPtr
    struct.pack_into("<h", header, 100, 1)  # nDataFormat: float32
    struct.pack_into("<h", header, 120, c)  # nADCNumChannels
    struct.pack_into("<f", header, 122, 1e6 / (fs * c))  # fADCSampleInterval
    with open(path, "wb") as f:
        f.write(bytes(header))
        f.write(arr.tobytes())


# --- corpus -----------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_STOP = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
LANGS = ("en", "es", "de", "fr", "zh")
SOURCES = tuple(f"src{i}" for i in range(5))


def _vocab(seed: int, size: int) -> np.ndarray:
    g = _rng(seed, 2)
    words = set()
    while len(words) < size:
        n = int(g.integers(3, 9))
        words.add("".join(g.choice(_LETTERS, n)))
    return np.array(sorted(words))


def documents(
    seed: int, n_docs: int, exact_share: float, near_share: float, vocab: int = 4000
) -> pd.DataFrame:
    """A snapshot in the schema of the ``documents`` table. ``exact_share`` of
    the docs copy an earlier original doc's text verbatim and
    ``near_share`` copy one with about 8 % of its tokens replaced
    (distinct-token Jaccard well above 0.5); the rest are originals,
    fresh draws over a vocabulary large enough that unrelated docs share
    almost no shingles. Copies are only ever made of originals, so every
    near-dup family is a star around its original and the dedup
    component search takes the same number of rounds for every seed."""
    g = _rng(seed, 3)
    words = _vocab(seed, vocab)
    texts: list[str] = []
    originals: list[int] = []
    kinds = g.choice(
        3, n_docs, p=[1.0 - exact_share - near_share, exact_share, near_share]
    )
    for i, kind in enumerate(kinds):
        if i == 0 or kind == 0:
            n = int(g.integers(12, 100))
            toks = g.choice(words, n)
            stops = g.random(n) < 0.25
            toks[stops] = g.choice(_STOP, int(stops.sum()))
            originals.append(i)
            texts.append(" ".join(toks))
            continue
        base = texts[originals[int(g.integers(0, len(originals)))]]
        if kind == 1:
            texts.append(base)
            continue
        toks = np.array(base.split(" "))
        hit = g.random(toks.size) < 0.08
        toks[hit] = g.choice(words, int(hit.sum()))
        texts.append(" ".join(toks))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": g.choice(LANGS, n_docs),
            "source": g.choice(SOURCES, n_docs),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# --- vectors ----------------------------------------------------------------


def embeddings(seed: int, n: int, dim: int, n_labels: int, stream: int = 0) -> pd.DataFrame:
    """Gaussian-mixture embeddings in the schema of the ``embeddings`` table
    (vec_id, embedding float32[dim], label). The cluster centres depend
    on ``seed`` only, so the corpus and the held-out queries (another
    ``stream``) share one mixture."""
    centres = _rng(seed, 5).normal(0.0, 1.0, size=(n_labels, dim))
    g = _rng(seed, 6, stream)
    labels = g.integers(0, n_labels, n)
    x = centres[labels] + g.normal(0.0, 0.35, size=(n, dim))
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )


def exact_topk(corpus: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict:
    """NumPy exact cosine top-``k`` vec_ids per query (ties by vec_id)."""
    c = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
    q = np.stack(queries["embedding"].to_numpy()).astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    ids = corpus["vec_id"].to_numpy()
    out = {}
    for qi, row in zip(queries["query_id"].to_numpy(), sims):
        order = np.lexsort((ids, -row))[:k]
        out[int(qi)] = set(int(v) for v in ids[order])
    return out
