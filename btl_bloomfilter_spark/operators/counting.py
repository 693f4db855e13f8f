"""Counting Bloom filter + Count-Min sketch.

CountingBloomFilter mirrors `CountingBloomFilter.hpp`:
- ``incrementAll`` update (CountingBloomFilter.hpp:165-183): add 1 to
  all h counters, saturating at the counter type's max (no wrap —
  `if (minVal > newVal) return` guard).  This update law is
  order-independent, so the distributed merge (elementwise saturating
  add) reproduces a serial build exactly up to saturation — our
  distributed default.
- ``incrementMin`` (CountingBloomFilter.hpp:135-162): conservative
  update — increment only the minimum counter(s).  NOT mergeable
  (min depends on global state), so it is offered as a
  partition-local mode only; documented deviation per SURVEY §7.
- ``contains``: min(counters at h slots) >= threshold
  (CountingBloomFilter.hpp:190-196,53-64).
- pop/FPR stats: CountingBloomFilter.hpp:217-258.

CountMinSketch is the published Cormode-Muthukrishnan structure: d
independent rows of width w, row i addressed by hash_i % w; point
estimate = min over rows (overestimate ≤ εN w.p. ≥ 1-δ with
w=⌈e/ε⌉, d=⌈ln(1/δ)⌉).  The counting BF is the degenerate w=m,
shared-row case; both share the multi-hash fan-out law.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..functions import hashing as H
from .. import params as P
from .base import Sketch, cut_cells, sum_cell_slices


class CountingBloomFilter(Sketch):
    def __init__(
        self,
        m_counters: int,
        hash_num: int,
        k: int = 0,
        *,
        counter_bits: int = 8,
        threshold: int = 1,
        seed_salt: int = 0,
        dfpr: float = 0.0,
        spaced_seeds: list[str] | None = None,
        canonical: bool = False,
    ):
        if counter_bits not in (8, 16, 32, 64):
            raise ValueError("counter_bits must be 8/16/32/64 (CountingBloomFilter.hpp:18-19)")
        if m_counters <= 0 or hash_num <= 0:
            raise ValueError("m_counters and hash_num must be positive")
        # same hash-mode surface as BloomFilter (spaced st/ssHash mode,
        # canonical NTC64 mode) — the reference counting filter is
        # hash-agnostic, so all tokenizer modes apply uniformly
        self.canonical = bool(canonical)
        self.spaced_seeds = list(spaced_seeds) if spaced_seeds else None
        k = H.check_hash_mode(k, self.spaced_seeds, self.canonical, hash_num)
        self.m_counters = int(m_counters)
        self.hash_num = int(hash_num)
        self.k = int(k)
        self.counter_bits = int(counter_bits)
        self.threshold = int(threshold)
        self.seed_salt = int(seed_salt)
        self.dfpr = float(dfpr)
        self.n_entry = 0
        self.t_entry = 0
        # accumulate in uint64; saturate to declared width on read/merge
        self.counters = np.zeros(self.m_counters, dtype=np.uint64)
        self._seeds = H.seed_table(self.seed_salt)

    @property
    def counter_bytes(self) -> int:
        return self.counter_bits // 8

    @property
    def counter_max(self) -> int:
        return (1 << self.counter_bits) - 1

    def params(self) -> dict[str, Any]:
        out = {
            "m_counters": self.m_counters,
            "hash_num": self.hash_num,
            "k": self.k,
            "counter_bits": self.counter_bits,
            "threshold": self.threshold,
            "seed_salt": self.seed_salt,
            "dfpr": self.dfpr,
        }
        if self.spaced_seeds:
            out["spaced_seeds"] = list(self.spaced_seeds)
        if self.canonical:
            out["canonical"] = True
        return out

    # -- hashing -----------------------------------------------------
    def _windows(self, values) -> tuple[np.ndarray, np.ndarray]:
        """((W, h) hashes, row_ids) of a string batch (any sequence or
        Arrow string array; nulls are ``""``)."""
        buf, offsets = H.utf8_buffers(values)
        return H.window_hashes(
            buf,
            offsets,
            k=self.k,
            num_hashes=1 if self.spaced_seeds else self.hash_num,
            spaced_seeds=self.spaced_seeds,
            canonical=self.canonical,
            seeds=self._seeds,
        )

    def _slots(self, hashes: np.ndarray) -> np.ndarray:
        return (hashes % np.uint64(self.m_counters)).astype(np.int64)

    # -- updates -----------------------------------------------------
    def update(self, values) -> None:
        """incrementAll over every element of the batch (saturating)."""
        hashes, _ = self._windows(values)
        if hashes.size:
            np.add.at(self.counters, self._slots(hashes).ravel(), np.uint64(1))
        self.n_entry += int(hashes.shape[0])
        self.t_entry += int(len(values))

    update_arrow = update

    def update_conservative(self, values) -> None:
        """incrementMin (conservative update) — partition-local only;
        sequential per element like the reference's CAS loop."""
        hashes, _ = self._windows(values)
        slots = self._slots(hashes)
        for row in slots:
            cur = self.counters[row]
            mn = cur.min()
            if mn < np.uint64(self.counter_max):
                self.counters[row[cur == mn]] += np.uint64(1)
        self.n_entry += int(hashes.shape[0])
        self.t_entry += int(len(values))

    def update_and_check(self, values) -> np.ndarray:
        """insertAndCheck (CountingBloomFilter.hpp:206-214): per
        element, contains-then-increment with EXACT sequential
        semantics at SLOT granularity: window i's read of slot s sees
        the pre-batch count plus every touch of s by windows j < i —
        including collisions between different values, not just
        identical-value occurrences (an element's own h reads all
        precede its own increments, as in the reference)."""
        hashes, rows = self._windows(values)
        n = len(values)
        if hashes.shape[0] == 0:
            self.t_entry += n
            return np.zeros(n, dtype=bool)
        slots = self._slots(hashes)
        w, h = slots.shape
        flat = slots.ravel()
        widx = np.repeat(np.arange(w, dtype=np.int64), h)
        order = np.lexsort((widx, flat))  # by slot, then window order
        fs = flat[order]
        fw = widx[order]
        idx = np.arange(fs.size, dtype=np.int64)
        new_slot = np.concatenate([[True], fs[1:] != fs[:-1]])
        slot_start = np.maximum.accumulate(np.where(new_slot, idx, 0))
        run_first = new_slot.copy()
        run_first[1:] |= fw[1:] != fw[:-1]
        run_start = np.maximum.accumulate(np.where(run_first, idx, 0))
        prior_sorted = run_start - slot_start  # touches by earlier windows
        prior = np.empty(fs.size, dtype=np.int64)
        prior[order] = prior_sorted
        before = np.minimum(
            self.counters[slots].astype(np.int64) + prior.reshape(w, h),
            np.int64(self.counter_max),
        )
        present = before.min(axis=1) >= self.threshold
        np.add.at(self.counters, flat, np.uint64(1))
        self.n_entry += int(hashes.shape[0])
        self.t_entry += n
        if self.k == 0:
            out = np.zeros(n, dtype=bool)
            out[rows] = present
            return out
        total = np.bincount(rows, minlength=n)
        hits = np.bincount(rows, weights=present.astype(np.float64), minlength=n)
        return (total > 0) & (hits == total)

    # -- queries -----------------------------------------------------
    def estimate_batch(self, values) -> np.ndarray:
        """Per whole-element min-count (k==0) or per-string min over
        all windows' min-counts (k>0: rarest window count)."""
        hashes, rows = self._windows(values)
        n = len(values)
        sat = np.minimum(self.counters, np.uint64(self.counter_max))
        if hashes.shape[0] == 0:
            return np.zeros(n, dtype=np.float64)
        per_window = sat[self._slots(hashes)].min(axis=1).astype(np.float64)
        if self.k == 0:
            out = np.zeros(n, dtype=np.float64)
            out[rows] = per_window
            return out
        acc = np.full(n, np.inf)
        np.minimum.at(acc, rows, per_window)  # rarest window per string
        return np.where(np.isinf(acc), 0.0, acc)

    def contains_batch(self, values) -> np.ndarray:
        return self.estimate_batch(values) >= self.threshold

    # -- merge -------------------------------------------------------
    def merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        self._require_compatible(other)
        self.counters = np.minimum(self.counters + other.counters, np.uint64(2**63))
        self.n_entry += other.n_entry
        self.t_entry += other.t_entry
        return self

    # -- slice-parallel merge (reduce-scatter; see plans/agg.py) ------

    def state_slices(self, n_slices: int) -> list[bytes]:
        return cut_cells(self.counters, n_slices)

    @classmethod
    def merge_slice_blobs(cls, params: dict, slice_idx: int, n_slices: int, blobs: list[bytes]) -> bytes:
        acc = sum_cell_slices(params["m_counters"], np.uint64, slice_idx, n_slices, blobs)
        return np.minimum(acc, np.uint64(2**63), out=acc).tobytes()  # merge saturation cap

    @classmethod
    def assemble_slices(cls, params: dict, slices: list[bytes], n_entry: int, t_entry: int) -> "CountingBloomFilter":
        out = cls(**params)
        out.counters = np.frombuffer(b"".join(slices), dtype=np.uint64).copy()
        if out.counters.shape[0] != out.m_counters:
            raise ValueError("assembled slice sizes inconsistent")
        out.n_entry = int(n_entry)
        out.t_entry = int(t_entry)
        return out

    # -- stats (CountingBloomFilter.hpp:217-258) ---------------------
    def pop_count(self) -> int:
        return int(np.count_nonzero(self.counters))

    def filtered_pop_count(self) -> int:
        return int((np.minimum(self.counters, self.counter_max) >= self.threshold).sum())

    def fpr(self) -> float:
        return P.observed_fpr(self.pop_count(), self.m_counters, self.hash_num)

    def filtered_fpr(self) -> float:
        return P.observed_fpr(self.filtered_pop_count(), self.m_counters, self.hash_num)

    def metrics(self) -> dict[str, Any]:
        return {"nonzero": self.pop_count(), "n_entry": self.n_entry}

    # -- state -------------------------------------------------------
    def counters_saturated(self) -> np.ndarray:
        dt = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}[self.counter_bits]
        return np.minimum(self.counters, np.uint64(self.counter_max)).astype(dt)

    def load_counters_saturated(self, payload: bytes) -> None:
        dt = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}[self.counter_bits]
        arr = np.frombuffer(payload, dtype=dt)
        if arr.shape[0] != self.m_counters:
            raise ValueError("payload size mismatch")
        self.counters = arr.astype(np.uint64)

    def state_bytes(self) -> bytes:
        return np.array([self.n_entry, self.t_entry], dtype=np.uint64).tobytes() + self.counters.tobytes()

    def load_state(self, payload: bytes) -> None:
        hdr = np.frombuffer(payload[:16], dtype=np.uint64)
        self.n_entry, self.t_entry = int(hdr[0]), int(hdr[1])
        arr = np.frombuffer(payload[16:], dtype=np.uint64)
        if arr.shape[0] != self.m_counters:
            raise ValueError("payload size mismatch")
        self.counters = arr.copy()


class CountMinSketch(Sketch):
    """d×w count-min; update/estimate/merge all vectorized."""

    def __init__(self, width: int, depth: int, *, seed_salt: int = 0, conservative: bool = False):
        self.width = int(width)
        self.depth = int(depth)
        self.seed_salt = int(seed_salt)
        self.conservative = bool(conservative)
        self.n_entry = 0
        self.t_entry = 0
        self.table = np.zeros((self.depth, self.width), dtype=np.uint64)
        self._seeds = H.seed_table(self.seed_salt)

    @classmethod
    def from_error(cls, eps: float, delta: float, **kw) -> "CountMinSketch":
        w, d = P.cms_dims(eps, delta)
        return cls(w, d, **kw)

    def params(self) -> dict[str, Any]:
        return {"width": self.width, "depth": self.depth, "seed_salt": self.seed_salt, "conservative": self.conservative}

    def _cols(self, values) -> np.ndarray:
        hashes = H.hash_strings_from_buffers(*H.utf8_buffers(values), self.depth, seeds=self._seeds)
        return (hashes % np.uint64(self.width)).astype(np.int64)  # (n, d)

    def update(self, values) -> None:
        cols = self._cols(values)
        self._apply_cols(cols)

    update_arrow = update

    def _apply_cols(self, cols: np.ndarray) -> None:
        n = cols.shape[0]
        if n:
            if self.conservative:
                # partition-local conservative update (not mergeable exactly)
                rows = np.arange(self.depth)
                for r in range(n):
                    cur = self.table[rows, cols[r]]
                    new = cur.min() + np.uint64(1)
                    self.table[rows, cols[r]] = np.maximum(cur, new)
            else:
                flat = (np.arange(self.depth, dtype=np.int64)[None, :] * self.width + cols).ravel()
                np.add.at(self.table.reshape(-1), flat, np.uint64(1))
        self.n_entry += n
        self.t_entry += n

    def update_weighted(self, values, weights) -> None:
        cols = self._cols(values)
        w = np.asarray(weights, dtype=np.uint64)
        if cols.shape[0]:
            if self.conservative:
                # weighted conservative update: raise each row's cell
                # to at most min_cell + w (partition-local, like the
                # unweighted conservative path)
                rows = np.arange(self.depth)
                for r in range(cols.shape[0]):
                    cur = self.table[rows, cols[r]]
                    new = cur.min() + w[r]
                    self.table[rows, cols[r]] = np.maximum(cur, new)
            else:
                flat = (np.arange(self.depth, dtype=np.int64)[None, :] * self.width + cols).ravel()
                np.add.at(self.table.reshape(-1), flat, np.repeat(w, self.depth))
        self.n_entry += int(w.sum())
        self.t_entry += cols.shape[0]

    def estimate_batch(self, values) -> np.ndarray:
        cols = self._cols(values)
        if cols.shape[0] == 0:
            return np.zeros(0, dtype=np.float64)
        est = self.table[np.arange(self.depth)[None, :], cols]  # (n, d)
        return est.min(axis=1).astype(np.float64)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._require_compatible(other)
        self.table += other.table
        self.n_entry += other.n_entry
        self.t_entry += other.t_entry
        return self

    def inner_product(self, other: "CountMinSketch") -> int:
        """Count-min inner-product estimate of Σ_k f_A(k)·f_B(k)
        (Cormode & Muthukrishnan '05 §4.2): min over the d rows of the
        row-wise dot product.  When each sketch holds one side's
        per-row join-key frequencies this IS an inner-join cardinality
        estimate from two blob-sized summaries — no data shuffle, the
        exact pre-join sizing a planner wants before picking
        broadcast/salt/bucket strategies at 100 TB.  Guarantees
        (same-seed tables required): never undercounts — every true
        (k, k) frequency product lands in some shared cell of every
        row — and overcounts by at most eps·N_A·N_B with probability
        ≥ 1−delta (eps = e/width, delta = e^−depth), the published
        bound q106 gates on.  Conservative-update tables are rejected:
        a conservative cell may hold LESS than the sum of its keys'
        counts, which breaks the no-undercount side.  Exact integer
        arithmetic (object dtype) — row dot products of uint64 tables
        can exceed 2^64 long before the counts themselves do.
        """
        self._require_compatible(other)
        if self.conservative or other.conservative:
            raise ValueError("inner_product requires standard (non-conservative) CMS updates")
        a = self.table.astype(object)
        b = other.table.astype(object)
        return int(min((a * b).sum(axis=1)))

    def metrics(self) -> dict[str, Any]:
        return {"nonzero": int(np.count_nonzero(self.table)), "n_entry": self.n_entry}

    def state_bytes(self) -> bytes:
        return np.array([self.n_entry, self.t_entry], dtype=np.uint64).tobytes() + self.table.tobytes()

    def load_state(self, payload: bytes) -> None:
        hdr = np.frombuffer(payload[:16], dtype=np.uint64)
        self.n_entry, self.t_entry = int(hdr[0]), int(hdr[1])
        arr = np.frombuffer(payload[16:], dtype=np.uint64)
        self.table = arr.reshape(self.depth, self.width).copy()
