"""HyperLogLog distinct-count sketch (mergeable).

Not present in the reference (which only has Bloom-family sketches)
but required by the north rule with the same accumulator algebra:
per-partition register arrays merged by elementwise max — the same
"concurrent updates ≡ merged partials" law as the Bloom OR
(BloomFilter.hpp:177-178), since max is associative/commutative.

Published algorithm (Flajolet et al. 2007) with the standard 64-bit
adaptation: m = 2^p uint8 registers; idx = top p bits of the hash;
rho = leading-zero count of the remaining 64-p bits + 1.

The estimator is Ertl's improved estimator (Otmar Ertl, "New
cardinality estimation algorithms for HyperLogLog sketches", 2017,
§ estimator based on the register histogram): the multiplicity
histogram feeds σ/τ corrections for the zero-register mass and the
saturated-register mass, removing the classic estimator's small- and
mid-range bias WITHOUT empirical bias tables (the HLL++ alternative)
— one smooth formula over the whole range, no linear-counting
switchover cliff.  Relative error ≤ 1.04/sqrt(m) (BASELINE.md bound)
still holds; the classic Flajolet estimator is kept as
`estimate_classic` for reference.  Hashing reuses the library's
seeded whole-string hash (functions/hashing.py).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..functions import hashing as H
from .base import Sketch


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


#: sparse-mode precision (HLL++ §5.3, Heule et al. 2013): while the
#: sketch holds few distincts it records (idx, rho) pairs at precision
#: 25 instead of dense p-registers — linear counting over 2^25 virtual
#: registers is then near-exact, removing the low-range error entirely
SPARSE_P = 25
_SPARSE_MAGIC = b"\xffSPR"  # 0xFF can never be a register value (rho <= 61)


class HyperLogLog(Sketch):
    def __init__(self, p: int = 14, *, seed_salt: int = 0):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.m = 1 << self.p
        self.seed_salt = int(seed_salt)
        # representation: sparse (idx@25, rho-after-25) pairs until
        # > m/4 distinct entries, then dense p-registers.  The sparse
        # encoding is exact w.r.t. the dense one: densify(sparse
        # updates) == dense updates, register for register (pinned by
        # test_hll), so merge laws hold across mixed representations.
        self._regs: np.ndarray | None = None
        self._sp_idx = np.empty(0, dtype=np.int64)
        self._sp_rho = np.empty(0, dtype=np.uint8)
        self._sparse_max = max(64, self.m // 4)
        self.t_entry = 0
        self._seeds = H.seed_table(self.seed_salt)

    def params(self) -> dict[str, Any]:
        return {"p": self.p, "seed_salt": self.seed_salt}

    # -- representation machinery --------------------------------------
    @property
    def is_sparse(self) -> bool:
        return self._regs is None

    @property
    def registers(self) -> np.ndarray:
        """Dense register view (densified copy while sparse)."""
        return self._dense_copy() if self._regs is None else self._regs

    def _dense_copy(self) -> np.ndarray:
        regs = np.zeros(self.m, dtype=np.uint8)
        if self._sp_idx.size:
            w = SPARSE_P - self.p
            idx_p = (self._sp_idx >> w).astype(np.int64)
            tail = (self._sp_idx & ((1 << w) - 1)).astype(np.uint64)
            # rho at precision p: leading zeros of the w tail bits if
            # any is set, else w + rho-after-25 (caps align exactly:
            # w + (64-25+1) == 64-p+1)
            clz_tail = (H.clz64(tail) - np.uint64(64 - w)).astype(np.int64) if w else None
            rho_p = (
                np.where(tail > 0, clz_tail + 1, w + self._sp_rho.astype(np.int64))
                if w
                else self._sp_rho.astype(np.int64)
            )
            np.maximum.at(regs, idx_p, rho_p.astype(np.uint8))
        return regs

    def _densify(self) -> None:
        if self._regs is None:
            self._regs = self._dense_copy()
            self._sp_idx = np.empty(0, dtype=np.int64)
            self._sp_rho = np.empty(0, dtype=np.uint8)

    def _sparse_absorb(self, idx: np.ndarray, rho: np.ndarray) -> None:
        cat_i = np.concatenate([self._sp_idx, idx])
        cat_r = np.concatenate([self._sp_rho, rho])
        uniq, inv = np.unique(cat_i, return_inverse=True)
        acc = np.zeros(uniq.size, dtype=np.uint8)
        np.maximum.at(acc, inv, cat_r)
        self._sp_idx, self._sp_rho = uniq, acc
        if uniq.size > self._sparse_max:
            self._densify()

    def update(self, values) -> None:
        """Absorb a string batch (any sequence or Arrow string array;
        nulls are ``""``)."""
        buf, offsets = H.utf8_buffers(values)
        self.update_hashes(H.hash_strings_from_buffers(buf, offsets, 1, seeds=self._seeds)[:, 0])
        self.t_entry += offsets.size - 1

    update_arrow = update

    def update_hashes(self, h: np.ndarray) -> None:
        if self._regs is None:
            sp = np.uint64(SPARSE_P)
            idx25 = (h >> (np.uint64(64) - sp)).astype(np.int64)
            with np.errstate(over="ignore"):
                rest = (h << sp).astype(np.uint64)
            rho = np.minimum(H.clz64(rest) + np.uint64(1), np.uint64(64 - SPARSE_P + 1)).astype(
                np.uint8
            )
            self._sparse_absorb(idx25, rho)
            return
        p64 = np.uint64(self.p)
        idx = (h >> (np.uint64(64) - p64)).astype(np.int64)
        with np.errstate(over="ignore"):
            rest = (h << p64).astype(np.uint64)
        rho = np.minimum(H.clz64(rest) + np.uint64(1), np.uint64(64 - self.p + 1)).astype(np.uint8)
        np.maximum.at(self._regs, idx, rho)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        self._require_compatible(other)
        if self._regs is None and other._regs is None:
            self._sparse_absorb(other._sp_idx, other._sp_rho)
        else:
            self._densify()
            np.maximum(self._regs, other.registers, out=self._regs)
        self.t_entry += other.t_entry
        return self

    @staticmethod
    def _sigma(x: float) -> float:
        """Ertl 2017, Algorithm 5: σ(x) = x + Σ_{k≥1} x^(2^k)·2^(k-1)."""
        if x == 1.0:
            return float("inf")
        y = 1.0
        z = x
        while True:
            x = x * x
            z_prev = z
            z += x * y
            y += y
            if z == z_prev:
                return z

    @staticmethod
    def _tau(x: float) -> float:
        """Ertl 2017, Algorithm 6: τ(x) = (1/3)(1−x−Σ(1−x^(2^−k))²·2^−k)."""
        if x == 0.0 or x == 1.0:
            return 0.0
        y = 1.0
        z = 1.0 - x
        while True:
            x = np.sqrt(x)
            z_prev = z
            y *= 0.5
            z -= (1.0 - x) ** 2 * y
            if z == z_prev:
                return z / 3.0

    def estimate(self) -> float:
        """Sparse mode: linear counting over 2^SPARSE_P virtual
        registers (HLL++ §5.3) — near-exact while few distincts.
        Dense mode: Ertl improved estimator (2017, eq. 66),
        histogram-based, bias-free across the whole range, no
        empirical tables."""
        if self._regs is None:
            m_s = float(1 << SPARSE_P)
            zeros = m_s - self._sp_idx.size
            return float(m_s * np.log(m_s / zeros))
        m = float(self.m)
        q = 64 - self.p  # register values span 0..q+1
        counts = np.bincount(self.registers, minlength=q + 2).astype(np.float64)
        z = m * self._tau(1.0 - counts[q + 1] / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + counts[k])
        z += m * self._sigma(counts[0] / m)
        alpha_inf = 0.5 / np.log(2.0)
        return float(alpha_inf * m * m / z)

    def estimate_classic(self) -> float:
        """Flajolet et al. 2007 estimator + small-range linear counting
        (kept for comparison/tests)."""
        m = float(self.m)
        inv = np.ldexp(1.0, -self.registers.astype(np.int32)).sum()
        e = _alpha(self.m) * m * m / inv
        if e <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * np.log(m / zeros)  # linear counting
        return float(e)

    def rel_error_bound(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def metrics(self) -> dict[str, Any]:
        out: dict[str, Any] = {"estimate": self.estimate()}
        if self._regs is None:
            out["sparse_entries"] = int(self._sp_idx.size)
        else:
            out["nonzero_regs"] = int((self._regs > 0).sum())
        return out

    def state_bytes(self) -> bytes:
        head = np.array([self.t_entry], dtype=np.uint64).tobytes()
        if self._regs is None:
            # sparse envelope: magic (0xFF is impossible as a register
            # value, so the dense/legacy format stays unambiguous) +
            # count + idx(int32) + rho(uint8)
            return (
                head
                + _SPARSE_MAGIC
                + np.array([self._sp_idx.size], dtype=np.int64).tobytes()
                + self._sp_idx.astype(np.int32).tobytes()
                + self._sp_rho.tobytes()
            )
        return head + self._regs.tobytes()

    def load_state(self, payload: bytes) -> None:
        self.t_entry = int(np.frombuffer(payload[:8], dtype=np.uint64)[0])
        if payload[8:12] == _SPARSE_MAGIC:
            (cnt,) = np.frombuffer(payload, dtype=np.int64, count=1, offset=12)
            cnt = int(cnt)
            off = 20
            self._sp_idx = np.frombuffer(payload, dtype=np.int32, count=cnt, offset=off).astype(
                np.int64
            )
            off += 4 * cnt
            self._sp_rho = np.frombuffer(payload, dtype=np.uint8, count=cnt, offset=off).copy()
            self._regs = None
            return
        regs = np.frombuffer(payload[8:], dtype=np.uint8)
        if regs.shape[0] != self.m:
            raise ValueError("payload size mismatch")
        self._regs = regs.copy()
        self._sp_idx = np.empty(0, dtype=np.int64)
        self._sp_rho = np.empty(0, dtype=np.uint8)
