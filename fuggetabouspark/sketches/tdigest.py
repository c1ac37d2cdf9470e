"""t-digest — quantile companion sketch [P:Dunning & Ertl 2019].

From-scratch, with one deliberate design choice for the north rule's
byte-identical merge-order invariance (SURVEY.md §7.4): standard
t-digest merges re-compress at every merge, which makes the result
depend on the merge tree. Here compression happens exactly ONCE, when
a partial is built from raw values (deterministic k1-scale merging
compression, no RNG), and ``merge`` is an exact sorted multiset union
of centroids — associative, commutative, canonical (sorted by
(mean, weight)) — so any merge tree over fixed partials yields
identical bytes. An explicit ``compressed()`` returns a canonically
re-compressed digest for bounding state (used at checkpoint / final
answer time, never inside the merge lattice).

State size: one partial carries <= ~2*compression centroids, so a
merged digest holds O(#partials * compression) centroids — at 10k
tasks and compression 200 that is ~32 MB of float64 pairs, fine for a
driver/final-merge stage; quantile error of the compressed final
digest ~ q(1-q)/compression.
"""

from __future__ import annotations

import math

import numpy as np

from ..params import TDigestParams, params_from_json, params_to_json
from .base import Sketch, pack, unpack


def _k1(q: np.ndarray | float, delta: float):
    return (delta / (2.0 * math.pi)) * np.arcsin(2.0 * np.asarray(q) - 1.0)


def _compress(means: np.ndarray, weights: np.ndarray, delta: float) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic, fully-vectorized compression over mean-sorted input.

    Clusters by unit-width buckets of the k1 scale function evaluated at
    each element's cumulative-weight midpoint (the "k-bucket" variant of
    the merging digest): k1 is monotone in q, input is mean-sorted, so
    bucket ids are nondecreasing and clusters are contiguous runs —
    per-cluster weighted means fall out of two bincounts. No RNG, no
    Python loop over centroids.
    """
    if means.size == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    w = weights.astype(np.float64, copy=False)
    total = float(w.sum())
    qmid = (np.cumsum(w) - w / 2.0) / total
    ids = np.floor(_k1(qmid, delta)).astype(np.int64)
    ids -= ids[0]
    # contiguous group-by on nondecreasing ids
    _, inv = np.unique(ids, return_inverse=True)
    wsum = np.bincount(inv, weights=w)
    msum = np.bincount(inv, weights=w * means)
    return (msum / wsum).astype(np.float64), wsum.astype(np.float64)


class TDigest(Sketch):
    NAME = "tdigest"

    def __init__(self, params: TDigestParams, means: np.ndarray | None = None,
                 weights: np.ndarray | None = None, n_items: int = 0):
        self.params = params
        self.means = means if means is not None else np.zeros(0, dtype=np.float64)
        self.weights = weights if weights is not None else np.zeros(0, dtype=np.float64)
        self.n_items = int(n_items)

    @classmethod
    def zero(cls, params: TDigestParams) -> "TDigest":
        return cls(params)

    @classmethod
    def from_values(cls, params: TDigestParams, values: np.ndarray) -> "TDigest":
        """Build a partial from raw values: sort once, compress once."""
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        v = np.sort(v)
        m, w = _compress(v, np.ones(v.size, dtype=np.float64), params.compression)
        return cls(params, m, w, int(v.size))

    def add(self, value: float) -> "TDigest":
        return self.add_batch(np.array([value], dtype=np.float64))

    def add_batch(self, values: np.ndarray) -> "TDigest":
        """Absorb raw values by unioning a freshly compressed partial."""
        other = TDigest.from_values(self.params, values)
        merged = self.merge(other)
        self.means, self.weights, self.n_items = merged.means, merged.weights, merged.n_items
        return self

    # ---- merge: exact sorted multiset union (no compression) ----
    def merge(self, other: "TDigest") -> "TDigest":
        if other.params != self.params:
            raise ValueError("params mismatch in TDigest merge")
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        order = np.lexsort((w, m))  # canonical: sort by (mean, weight)
        return TDigest(self.params, m[order], w[order], self.n_items + other.n_items)

    def compressed(self) -> "TDigest":
        """Canonical re-compression — bounds state to ~2*compression
        centroids. Changes bytes; apply only at checkpoint/answer time."""
        m, w = _compress(self.means, self.weights, self.params.compression)
        return TDigest(self.params, m, w, self.n_items)

    # ---- query ----
    def quantile(self, q: float) -> float:
        qs = self.quantiles(np.asarray([q]))
        return float(qs[0])

    def quantiles(self, qs: np.ndarray) -> np.ndarray:
        """Piecewise-linear interpolation between centroid means with the
        standard half-weight convention (shared helper in base.py)."""
        from .base import weighted_quantiles

        return weighted_quantiles(self.means, self.weights, qs)

    def rank(self, x: float) -> float:
        """Approximate fraction of mass <= x."""
        if self.means.size == 0:
            return float("nan")
        cum = np.cumsum(self.weights) - self.weights / 2.0
        total = float(self.weights.sum())
        return float(np.interp(x, self.means, cum / total, left=0.0, right=1.0))

    def to_bytes(self) -> bytes:
        return pack(self.NAME, params_to_json(self.params), self.n_items, [self.means, self.weights])

    @classmethod
    def from_bytes(cls, buf: bytes) -> "TDigest":
        name, pj, n_items, arrays = unpack(buf)
        if name != cls.NAME:
            raise ValueError(f"expected {cls.NAME}, got {name}")
        return cls(params_from_json(pj), arrays[0], arrays[1], n_items)
