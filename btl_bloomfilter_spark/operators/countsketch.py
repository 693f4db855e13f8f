"""Count sketch (AMS / Charikar-Chen-Farach-Colton, ICALP'02).

The SIGNED sibling of the count-min sketch (`counting.CountMinSketch`):
each key hashes to one cell per row and contributes ±1 (a second,
independent hash bit picks the sign), so every cell is a zero-mean sum
of the OTHER keys' frequencies plus this key's own.  That sign trick
buys three things count-min can't give:

* **unbiased** point estimates (count-min only ever overcounts);
  estimate = median over rows of ``sign(x) * table[row, col(x)]``,
  with ``|est - f(x)| <= sqrt(3 * F2 / width)`` per row w.p. >= 2/3
  (Chebyshev; variance of a row estimate is at most F2/width) and the
  median driving the failure probability down exponentially in depth;
* an **unbiased second-frequency-moment (F2) estimate** — the AMS
  quantity: per row, ``sum_c table[row, c]^2`` has expectation exactly
  F2 (cross terms carry independent zero-mean signs), variance
  <= 2*F2^2/width, so ``median_row sum-of-squares`` is a
  (1 ± sqrt(6/width))-approximation w.p. >= 2/3 per row;
* an **unbiased inner-product estimate** between two same-seed
  sketches (median of row-wise dots) — the signed analog of
  count-min's always-overcounting join-size estimate
  (`counting.CountMinSketch.inner_product`).

Relation to the reference: btl_bloomfilter's counting Bloom filter
(`CountingBloomFilter.hpp`) answers the same "how often did I see this
key" question with biased-up minima; this operator is the estimator
the survey's sketch family needs when *unbiasedness* matters (feature
frequencies feeding a downstream model, F2/skew diagnostics for
partition planning).  Hashing reuses the library's seeded NTE64-style
fan-out (`functions/hashing.hash_strings`), rows 0..d-1 for cell
columns and rows d..2d-1 (lowest bit) for signs, so the sign bit and
the bucket are drawn from independent 64-bit hashes rather than
splitting one word.

Scale shape: the table is a flat int64 array, updates are numpy
scatter-adds per Arrow batch, and the merge is CELL-WISE INTEGER
ADDITION — exactly associative and commutative, so the distributed
build (`plans/agg.build_sketch`) is byte-identical to a single-pass
driver build under ANY partitioning (gated in q119 and
tests/test_countsketch.py).  Supports the reduce-scatter sliced merge
(`state_slices`), so merge parallelism scales with the cluster, not
with the fan-in.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..functions import hashing as H
from .base import Sketch, cut_cells, sum_cell_slices

__all__ = ["CountSketch"]


class CountSketch(Sketch):
    """depth x width signed count sketch; update/estimate/merge vectorized."""

    def __init__(self, width: int, depth: int, *, seed_salt: int = 0):
        if width < 1 or depth < 1:
            raise ValueError("width and depth must be >= 1")
        self.width = int(width)
        self.depth = int(depth)
        self.seed_salt = int(seed_salt)
        self.n_entry = 0
        self.t_entry = 0
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self._seeds = H.seed_table(self.seed_salt)

    @classmethod
    def from_error(cls, eps: float, delta: float, **kw) -> "CountSketch":
        """width = ceil(3/eps^2) targets |est-f| <= eps*sqrt(F2);
        depth = ceil(6*ln(1/delta)) drives the median failure below
        delta (Chernoff over per-row success probability 2/3)."""
        width = int(np.ceil(3.0 / (eps * eps)))
        depth = max(1, int(np.ceil(6.0 * np.log(1.0 / delta))))
        return cls(width, depth, **kw)

    def params(self) -> dict[str, Any]:
        return {"width": self.width, "depth": self.depth, "seed_salt": self.seed_salt}

    # -- hashing -------------------------------------------------------
    def _cols_signs(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(n, 2d) uint64 fan-out -> ((n, d) int64 columns, (n, d) int64 ±1)."""
        cols = (hashes[:, : self.depth] % np.uint64(self.width)).astype(np.int64)
        signs = 1 - 2 * (hashes[:, self.depth :] & np.uint64(1)).astype(np.int64)
        return cols, signs

    def _hash(self, values) -> np.ndarray:
        return H.hash_strings_from_buffers(*H.utf8_buffers(values), 2 * self.depth, seeds=self._seeds)

    # -- accumulation ----------------------------------------------------
    def update(self, values) -> None:
        cols, signs = self._cols_signs(self._hash(values))
        self._apply(cols, signs)

    update_arrow = update

    def update_weighted(self, values, weights) -> None:
        cols, signs = self._cols_signs(self._hash(values))
        w = np.asarray(weights, dtype=np.int64)
        if cols.shape[0]:
            flat = (np.arange(self.depth, dtype=np.int64)[None, :] * self.width + cols).ravel()
            np.add.at(self.table.reshape(-1), flat, (signs * w[:, None]).ravel())
        self.n_entry += int(w.sum())
        self.t_entry += cols.shape[0]

    def _apply(self, cols: np.ndarray, signs: np.ndarray) -> None:
        n = cols.shape[0]
        if n:
            flat = (np.arange(self.depth, dtype=np.int64)[None, :] * self.width + cols).ravel()
            np.add.at(self.table.reshape(-1), flat, signs.ravel())
        self.n_entry += n
        self.t_entry += n

    # -- queries ---------------------------------------------------------
    def estimate_batch(self, values) -> np.ndarray:
        """Median-of-rows unbiased frequency estimates (float64; an
        even depth medians two integers, halves are possible)."""
        cols, signs = self._cols_signs(self._hash(values))
        if cols.shape[0] == 0:
            return np.zeros(0, dtype=np.float64)
        per_row = signs * self.table[np.arange(self.depth)[None, :], cols]  # (n, d)
        return np.median(per_row, axis=1)

    def error_bound(self) -> float:
        """Per-row Chebyshev radius sqrt(3*F2_est/width): each row
        estimate lands within this of the true frequency w.p. >= 2/3,
        and the median w.p. >= 1 - exp(-depth/6)."""
        return float(np.sqrt(3.0 * max(self.f2_estimate(), 0.0) / self.width))

    def f2_estimate(self) -> float:
        """AMS second frequency moment: median over rows of the row's
        sum of squared cells (each row's sum is an unbiased F2
        estimator; float64 accumulation — exact for cells < 2^26.5,
        and the estimator's own sqrt(6/width) noise floor dwarfs any
        rounding far beyond that)."""
        sq = self.table.astype(np.float64) ** 2
        return float(np.median(sq.sum(axis=1)))

    def inner_product(self, other: "CountSketch") -> float:
        """Unbiased estimate of sum_k f_A(k)*f_B(k) from two same-seed
        sketches: median over rows of the row-wise dot product.  The
        signed counterpart of count-min's one-sided join-size bound."""
        self._require_compatible(other)
        dots = (self.table.astype(np.float64) * other.table.astype(np.float64)).sum(axis=1)
        return float(np.median(dots))

    # -- merge -------------------------------------------------------
    def merge(self, other: "CountSketch") -> "CountSketch":
        self._require_compatible(other)
        self.table += other.table
        self.n_entry += other.n_entry
        self.t_entry += other.t_entry
        return self

    # -- slice-parallel merge (reduce-scatter; see plans/agg.py) ------

    def state_slices(self, n_slices: int) -> list[bytes]:
        return cut_cells(self.table.reshape(-1), n_slices)

    @classmethod
    def merge_slice_blobs(cls, params: dict, slice_idx: int, n_slices: int, blobs: list[bytes]) -> bytes:
        return sum_cell_slices(params["depth"] * params["width"], np.int64, slice_idx, n_slices, blobs).tobytes()

    @classmethod
    def assemble_slices(cls, params: dict, slices: list[bytes], n_entry: int, t_entry: int) -> "CountSketch":
        out = cls(**params)
        flat = np.frombuffer(b"".join(slices), dtype=np.int64)
        if flat.shape[0] != out.depth * out.width:
            raise ValueError("assembled slice sizes inconsistent")
        out.table = flat.reshape(out.depth, out.width).copy()
        out.n_entry = int(n_entry)
        out.t_entry = int(t_entry)
        return out

    # -- state ---------------------------------------------------------
    def metrics(self) -> dict[str, Any]:
        return {"nonzero": int(np.count_nonzero(self.table)), "n_entry": self.n_entry}

    def state_bytes(self) -> bytes:
        return (
            np.array([self.n_entry, self.t_entry], dtype=np.int64).tobytes()
            + self.table.tobytes()
        )

    def load_state(self, payload: bytes) -> None:
        hdr = np.frombuffer(payload[:16], dtype=np.int64)
        self.n_entry, self.t_entry = int(hdr[0]), int(hdr[1])
        flat = np.frombuffer(payload[16:], dtype=np.int64)
        if flat.shape[0] != self.depth * self.width:
            raise ValueError("payload size mismatch")
        self.table = flat.reshape(self.depth, self.width).copy()


