"""Seeded synthetic inputs for the benchmark workloads.

Every generator takes the run's ``--seed`` and returns numpy arrays; the
same seed always gives the same arrays. The program under test only
ever sees DataFrames built from these arrays (or parquet files written
from them), never the generators themselves.
"""

from __future__ import annotations

import numpy as np

EMNIST_DIM = 784
EMNIST_CLUSTERS = 10
EMNIST_SIGMA = 0.1

INDEX_DIM = 32
INDEX_CLUSTERS = 32
INDEX_SPREAD = 50.0  # cluster centres ~ Uniform(-50, 50)^32
INDEX_SIGMA = 1.0
QUERY_SIGMA = 0.5  # queries sit this far (per coordinate) from a stored point


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per (seed, purpose), so changing how many
    draws one input takes never shifts another input."""
    return np.random.default_rng([int(seed), sum(map(ord, stream)), len(stream)])


def emnist_like(seed: int, n: int, id_base: int = 0, stream: str = "emnist"):
    """FIXTURES.md ``points_emnist_like``: even ids Uniform(0,1)^784, odd
    ids from one of 10 Gaussian clusters (sigma 0.1) with Uniform(0,1)
    centres. Returns (ids int64[n], X float64[n, 784])."""
    rng = _rng(seed, stream)
    centres = rng.uniform(0.0, 1.0, (EMNIST_CLUSTERS, EMNIST_DIM))
    ids = np.arange(id_base, id_base + n, dtype=np.int64)
    X = np.empty((n, EMNIST_DIM))
    uniform = ids % 2 == 0
    X[uniform] = rng.uniform(0.0, 1.0, (int(uniform.sum()), EMNIST_DIM))
    which = rng.integers(0, EMNIST_CLUSTERS, int((~uniform).sum()))
    X[~uniform] = centres[which] + rng.normal(
        0.0, EMNIST_SIGMA, (len(which), EMNIST_DIM)
    )
    return ids, X


class ClusteredCorpus:
    """The index workload's vector space: 32 well-separated Gaussian
    clusters in 32 dimensions. ``base`` is the corpus persisted at
    set-up; ``batch(r)`` and the query sets of round ``r`` are drawn from
    the same clusters with their own streams."""

    def __init__(self, seed: int, n: int):
        self.seed = int(seed)
        rng = _rng(seed, "corpus")
        self.centres = rng.uniform(
            -INDEX_SPREAD, INDEX_SPREAD, (INDEX_CLUSTERS, INDEX_DIM)
        )
        self.n = int(n)
        self.ids, self.X = self._draw(rng, 0, n)

    def _draw(self, rng, id_base: int, n: int):
        ids = np.arange(id_base, id_base + n, dtype=np.int64)
        which = rng.integers(0, INDEX_CLUSTERS, n)
        X = self.centres[which] + rng.normal(0.0, INDEX_SIGMA, (n, INDEX_DIM))
        return ids, X

    def batch(self, round_no: int, size: int):
        """Held-out ingest batch of round ``round_no``: fresh ids above
        every id used before it."""
        rng = _rng(self.seed, f"batch{round_no}")
        return self._draw(rng, self.n + round_no * size, size)

    def queries_near(self, stream: str, X: np.ndarray, size: int):
        """``size`` query vectors, each a stored vector of ``X`` plus
        N(0, 0.5) noise. Returns (query vectors, index of the source row)."""
        rng = _rng(self.seed, stream)
        src = rng.integers(0, len(X), size)
        return X[src] + rng.normal(0.0, QUERY_SIGMA, (size, X.shape[1])), src
