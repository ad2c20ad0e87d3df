"""Seeded input generation for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng([seed, stream,
...])`` with its own stream numbers (and the request number where an
input belongs to one request), so adding draws to one input never
shifts another, and the same seed always gives byte-identical inputs.
Nothing here touches Spark: the program only ever sees the generated
arrays and texts.
"""

from __future__ import annotations

import numpy as np

# stream numbers: one per independent input
_CORPUS, _QUERIES, _BATCHES, _TEXTS = range(4)


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def gaussian_mixture(
    seed: int, n: int, dim: int, clusters: int, spread: float = 0.5
) -> np.ndarray:
    """``n`` float32 vectors around ``clusters`` Gaussian centres."""
    g = rng(seed, _CORPUS)
    centres = g.standard_normal((clusters, dim))
    member = g.integers(0, clusters, n)
    return (centres[member] + spread * g.standard_normal((n, dim))).astype(
        np.float32
    )


def near_points(
    seed: int, request: int, corpus: np.ndarray, n: int, noise: float = 0.1
) -> np.ndarray:
    """``n`` float64 query vectors for request number ``request``, each a
    corpus point plus small noise."""
    g = rng(seed, _QUERIES, request)
    picks = g.integers(0, len(corpus), n)
    return corpus[picks].astype(np.float64) + noise * g.standard_normal(
        (n, corpus.shape[1])
    )


def fresh_batch(seed: int, request: int, base: np.ndarray, rows: int) -> np.ndarray:
    """An append batch for request number ``request``: new float32 points
    near base points (the base distribution, so fixed centroids and SQ8
    bounds still fit)."""
    g = rng(seed, _BATCHES, request)
    picks = g.integers(0, len(base), rows)
    return (base[picks] + 0.5 * g.standard_normal((rows, base.shape[1]))).astype(
        np.float32
    )


def _zipf_words(g: np.random.Generator, shape, vocab: int) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1) ** 1.05
    return g.choice(vocab, size=shape, p=p / p.sum())


def documents(seed: int, n: int, words: int, vocab: int = 20000) -> list[str]:
    """``n`` texts of ``words`` Zipf-drawn words each."""
    toks = _zipf_words(rng(seed, _TEXTS), (n, words), vocab)
    return [" ".join(f"w{t}" for t in row) for row in toks]
