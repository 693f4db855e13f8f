"""Theta / KMV distinct-count sketch with set algebra (mergeable).

Not present in the reference (Bloom-family only) but the natural
completion of the north-rule sketch algebra: HLL (hll.py) unions but
cannot intersect — the register max loses the information.  The theta
sketch framework (Dasgupta, Lang, Rhodes, Thaler: "Theta-Sketch
Framework", and the classic KMV estimator of Bar-Yossef et al. 2002 /
Beyer et al. SIGMOD'07) supports **union, intersection and set
difference** with published error bounds, under exactly this library's
Sketch protocol (base.py): ``update`` order-independent, ``merge``
associative + commutative, rebuilds value-deterministic.

Representation (strict KMV, deterministically trimmed):

- retained: the ≤ k smallest *distinct* 64-bit hashes seen, sorted,
  every one strictly below ``theta``;
- theta: (k+1)-th smallest distinct hash once more than k distincts
  have been seen, else 2^64 ("exact mode").

Because "the k smallest distinct hashes of a multiset" is a pure
function of the SET of inputs, the final (retained, theta) state is
independent of batching, partitioning and merge order — merged
partials are **bit-identical** to a serial build (pinned by tests
under partition permutations), the same law the Bloom OR has
(`BloomFilter.hpp:177-178`).

Estimator: ``count / (theta / 2^64)`` — with count = k retained below
theta = v_{k+1} this is the unbiased KMV estimator (k'-1)/U_{(k')} of
Beyer et al. with k' = k+1; in exact mode (theta = 2^64) it is the
exact distinct count.  Relative standard error ≤ 1/sqrt(k-1) for a
built/unioned sketch; a set-operation RESULT carries the error of its
own retained count c (RSE ≈ 1/sqrt(c)) — ``rel_error_bound()`` always
reports the bound for the sketch it is called on.

Set operations return ordinary ThetaSketch instances (retained values
all below the result theta), so expressions compose:
``theta_a_not_b(theta_union(a, b), theta_intersect(c, d))``.
"""

from __future__ import annotations

from typing import Any, Iterable

import numpy as np

from ..functions import hashing as H
from .base import Sketch

_FULL_RANGE = 1 << 64


class ThetaSketch(Sketch):
    def __init__(self, k: int = 4096, *, seed_salt: int = 0):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.seed_salt = int(seed_salt)
        self._vals = np.empty(0, dtype=np.uint64)  # sorted unique, all < theta
        self._theta = _FULL_RANGE  # exclusive threshold; 2^64 = exact mode
        self.t_entry = 0
        self._seeds = H.seed_table(self.seed_salt)

    def params(self) -> dict[str, Any]:
        return {"k": self.k, "seed_salt": self.seed_salt}

    # -- accumulation --------------------------------------------------
    def _require_compatible(self, other: "ThetaSketch") -> None:
        if not isinstance(other, ThetaSketch):
            raise ValueError("can only combine with another ThetaSketch")
        if (self.k, self.seed_salt) != (other.k, other.seed_salt):
            raise ValueError(
                f"incompatible theta params: {(self.k, self.seed_salt)} "
                f"vs {(other.k, other.seed_salt)}"
            )

    def _absorb(self, vals: np.ndarray) -> None:
        """vals: sorted unique uint64, all < self._theta."""
        if vals.size > self.k:
            self._theta = int(vals[self.k])
            vals = vals[: self.k]
        self._vals = vals

    def update_hashes(self, h: np.ndarray) -> None:
        if h.size == 0:
            return
        h = np.unique(h)  # sorted + dedup
        if self._theta < _FULL_RANGE:
            h = h[h < np.uint64(self._theta)]
        self._absorb(np.union1d(self._vals, h))

    def update(self, values) -> None:
        """Absorb a string batch (any sequence or Arrow string array;
        nulls are ``""``)."""
        buf, offsets = H.utf8_buffers(values)
        self.update_hashes(H.hash_strings_from_buffers(buf, offsets, 1, seeds=self._seeds)[:, 0])
        self.t_entry += offsets.size - 1

    update_arrow = update

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        self._require_compatible(other)
        theta = min(self._theta, other._theta)
        a, b = self._vals, other._vals
        if theta < _FULL_RANGE:
            t = np.uint64(theta)
            a, b = a[a < t], b[b < t]
        self._theta = theta
        self._absorb(np.union1d(a, b))
        self.t_entry += other.t_entry
        return self

    # -- finalize ------------------------------------------------------
    @property
    def is_exact(self) -> bool:
        return self._theta == _FULL_RANGE

    @property
    def retained(self) -> int:
        return int(self._vals.size)

    @property
    def theta_fraction(self) -> float:
        return self._theta / float(_FULL_RANGE)

    def estimate(self) -> float:
        if self.is_exact:
            return float(self._vals.size)
        return self._vals.size / self.theta_fraction

    def rel_error_bound(self) -> float:
        """One-sigma relative standard error of ``estimate()`` for
        THIS sketch: 0 in exact mode, else ~1/sqrt(c-1) where c is the
        retained count (c = k for a built/unioned sketch; smaller for
        intersection / difference results, whose absolute error is
        governed by the common theta)."""
        if self.is_exact:
            return 0.0
        return 1.0 / np.sqrt(max(self._vals.size - 1, 1))

    def metrics(self) -> dict[str, Any]:
        return {
            "estimate": self.estimate(),
            "retained": self.retained,
            "theta": self.theta_fraction,
        }

    # -- state transport ----------------------------------------------
    def state_bytes(self) -> bytes:
        head = np.array(
            [self.t_entry, self._theta - 1 if self._theta == _FULL_RANGE else self._theta],
            dtype=np.uint64,
        )
        flag = np.array([1 if self._theta == _FULL_RANGE else 0], dtype=np.uint8)
        return head.tobytes() + flag.tobytes() + self._vals.tobytes()

    def load_state(self, payload: bytes) -> None:
        head = np.frombuffer(payload, dtype=np.uint64, count=2)
        self.t_entry = int(head[0])
        exact = payload[16] == 1
        self._theta = _FULL_RANGE if exact else int(head[1])
        self._vals = np.frombuffer(payload[17:], dtype=np.uint64).copy()


# -- set algebra (theta framework) -------------------------------------


def _common(a: ThetaSketch, b: ThetaSketch) -> tuple[int, np.ndarray, np.ndarray]:
    a._require_compatible(b)
    theta = min(a._theta, b._theta)
    av, bv = a._vals, b._vals
    if theta < _FULL_RANGE:
        t = np.uint64(theta)
        av, bv = av[av < t], bv[bv < t]
    return theta, av, bv


def _result(a: ThetaSketch, theta: int, vals: np.ndarray, t_entry: int) -> ThetaSketch:
    out = ThetaSketch(a.k, seed_salt=a.seed_salt)
    out._theta = theta
    out._absorb(vals)
    out.t_entry = t_entry
    return out


def theta_union(sketches: Iterable[ThetaSketch]) -> ThetaSketch:
    """Union of any number of sketches (a fresh sketch; inputs
    untouched).  Identical to folding ``merge``."""
    it = iter(sketches)
    try:
        first = next(it)
    except StopIteration:
        raise ValueError("theta_union requires at least one sketch") from None
    out = _result(first, first._theta, first._vals.copy(), first.t_entry)
    for sk in it:
        out.merge(sk)
    return out


def theta_intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """|A ∩ B| estimator: survivors common to both under the common
    theta (Theta-Sketch Framework §intersection)."""
    theta, av, bv = _common(a, b)
    return _result(a, theta, np.intersect1d(av, bv), a.t_entry + b.t_entry)


def theta_a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """|A \\ B| estimator: A's survivors not present in B, under the
    common theta."""
    theta, av, bv = _common(a, b)
    return _result(a, theta, np.setdiff1d(av, bv), a.t_entry + b.t_entry)


def theta_jaccard(a: ThetaSketch, b: ThetaSketch) -> float:
    """Jaccard similarity |A∩B|/|A∪B| from the common-theta survivor
    sets (the same bottom-k-sample argument as MinHash: under the
    common theta both retained sets are uniform samples of their
    sets, so the survivor ratio estimates the Jaccard)."""
    theta, av, bv = _common(a, b)
    union = np.union1d(av, bv)
    if union.size == 0:
        return 0.0
    return float(np.intersect1d(av, bv).size) / float(union.size)
