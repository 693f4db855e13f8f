"""Distributed mergeable Bloom filter.

Semantics mirror the reference (`BloomFilter.hpp`):
- insert: set h bits at ``hash_i % m`` (BloomFilter.hpp:171-194);
  bit layout is LSB-first within each byte, matching the reference's
  ``bitMask`` table so `.bf` files are byte-compatible.
- contains: AND over the h probed bits (BloomFilter.hpp:237-262).
- merge: bitwise OR — exactly what the reference's concurrent
  ``__sync_or_and_fetch`` inserts compute, hence a P-partition
  distributed build is **bit-identical** to a serial one.
- a build queues bit positions and ORs them in sorted, so a low-fill
  partial is cut into slices or serialized from its positions without
  touching an m-sized array (``_set_bits``).
- intersect: bitwise AND (standard BF intersection).
- popcount / FPR math: BloomFilter.hpp:316-367.

Two tokenization modes:
- ``k > 0``: every k-byte rolling window of the string is an element
  (KmerBloomFilter.hpp:47-74 analog, vectorized).
- ``k == 0``: the whole string is one element.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..functions import hashing as H
from .. import params as P
from .base import Sketch, slice_bounds

_POPCNT_LUT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint16)
_BIT_MASKS = np.array([1, 2, 4, 8, 16, 32, 64, 128], dtype=np.uint8)


def _or_sorted(dst: np.ndarray, pos: np.ndarray) -> None:
    """OR bit positions (ascending, repeats allowed) into the packed
    LSB-first bytes ``dst``: the masks of each run of equal bytes are
    reduced first, so every touched byte gets exactly one OR."""
    if pos.size == 0:
        return
    byte = np.right_shift(pos, 3)
    first = np.empty(byte.size, dtype=bool)
    first[0] = True
    np.not_equal(byte[1:], byte[:-1], out=first[1:])
    starts = np.flatnonzero(first)
    dst[byte[starts]] |= np.bitwise_or.reduceat(_BIT_MASKS[np.bitwise_and(pos, 7)], starts)


def _set_positions(packed: np.ndarray) -> np.ndarray:
    """Ascending set-bit positions of packed LSB-first bytes; cost ∝
    the nonzero bytes, not the array length."""
    nzb = np.flatnonzero(packed)
    rows_, cols_ = np.nonzero(np.unpackbits(packed[nzb][:, None], axis=1, bitorder="little"))
    return nzb[rows_] * 8 + cols_


class BloomFilter(Sketch):
    def __init__(
        self,
        m_bits: int,
        hash_num: int,
        k: int = 0,
        *,
        seed_salt: int = 0,
        dfpr: float = 0.0,
        n_entry: int = 0,
        t_entry: int = 0,
        spaced_seeds: list[str] | None = None,
        canonical: bool = False,
    ):
        if m_bits <= 0 or m_bits % 64:
            raise ValueError("m_bits must be a positive multiple of 64 (BloomFilter.hpp:389-399)")
        if hash_num <= 0:
            raise ValueError("hash_num must be positive")
        self.m_bits = int(m_bits)
        self.hash_num = int(hash_num)
        self.k = int(k)
        self.seed_salt = int(seed_salt)
        self.dfpr = float(dfpr)
        self.n_entry = int(n_entry)  # elements inserted (windows)
        self.t_entry = int(t_entry)  # rows (strings) processed
        # spaced-seed mode (st/ssHashIterator analog): one hash per
        # '1'/'0' pattern, window length = pattern length; masked
        # positions don't contribute (skip-gram matching)
        # canonical (strand-neutral) mode: NTC64 analog — each window's
        # base hash is min(forward, reverse-complement), so a sequence
        # and its reverse complement populate/probe identical bits
        self.canonical = bool(canonical)
        self.spaced_seeds = list(spaced_seeds) if spaced_seeds else None
        self.k = H.check_hash_mode(self.k, self.spaced_seeds, self.canonical, self.hash_num)
        self._seeds = H.seed_table(self.seed_salt)
        # pending positions fit in u32 up to m = 2^32; the buffer holds
        # at most the packed array's own size, m/8 bytes
        self._pos_dtype = np.dtype(np.uint32 if self.m_bits <= 1 << 32 else np.uint64)
        self._pend_cap = self.m_bits // 8 // self._pos_dtype.itemsize
        self._clear()

    # -- construction helpers ---------------------------------------
    @classmethod
    def for_capacity(cls, n: int, fpr: float, k: int = 0, hash_num: int | None = None, **kw) -> "BloomFilter":
        m, h = P.calc_optimal_size(n, fpr, hash_num)
        return cls(m, h, k, dfpr=fpr, **kw)

    def params(self) -> dict[str, Any]:
        out = {"m_bits": self.m_bits, "hash_num": self.hash_num, "k": self.k, "seed_salt": self.seed_salt, "dfpr": self.dfpr}
        if self.spaced_seeds:
            out["spaced_seeds"] = list(self.spaced_seeds)
        if self.canonical:
            out["canonical"] = True
        return out

    #: windows per fan-out chunk — bounds peak kernel memory at
    #: CHUNK × hash_num × 8 bytes (≈12 MB at h=3) regardless of how
    #: many k-gram windows an Arrow batch explodes into
    CHUNK = 1 << 19

    # -- hashing ------------------------------------------------------
    def _windows(self, values) -> tuple[np.ndarray, np.ndarray]:
        """(hashes, row_ids) of a string batch (any sequence or Arrow
        string array): the (W, h) matrix in spaced-seed mode, else (W, 1)
        base hashes.  The h-way NTE64 fan-out of base hashes happens
        chunk-wise in the consumer, so a text batch that explodes into
        millions of windows never materializes a (W, h) matrix at once."""
        buf, offsets = H.utf8_buffers(values)
        return H.window_hashes(
            buf,
            offsets,
            k=self.k,
            num_hashes=1,
            spaced_seeds=self.spaced_seeds,
            canonical=self.canonical,
            seeds=self._seeds,
        )

    @property
    def _fanout_k(self) -> int:
        # NTE64 law parameter: window length for k-gram mode, the
        # fixed whole-string convention (=1) otherwise
        return self.k if self.k > 0 else 1

    # -- hash → bit-position mapping ------------------------------------
    # The ONLY layout-dependent step: BloomFilter scatters each hash
    # uniformly over [0, m); BlockedBloomFilter (below) derives a block
    # from the seed-0 hash and confines all hash_num bits to it.  Both
    # update and probe paths funnel through these two hooks so the two
    # layouts share every kernel, merge, and slice code path.
    def _positions_matrix(self, hashes: np.ndarray) -> np.ndarray:
        """(W, h) uint64 hashes → (W, h) bit positions, IN PLACE
        (callers pass scratch).  Column 0 must be the seed-0/base
        hash (the NTE64 law hVal[0] = bVal guarantees this for the
        fan-out path; multi-seed matrices use seed 0's column)."""
        np.remainder(hashes, np.uint64(self.m_bits), out=hashes)
        return hashes

    def _column_context(self, base: np.ndarray):
        """Per-chunk precomputation for the column-wise probe: the
        blocked layout derives each window's block base from the
        seed-0 hashes ONCE here (instead of once per hash column);
        the flat layout needs nothing."""
        return None

    def _positions_column(self, ctx, hi: np.ndarray) -> np.ndarray:
        """One fan-out column → bit positions; ``ctx`` is this chunk's
        ``_column_context`` (subset along with the windows)."""
        return hi % np.uint64(self.m_bits)

    # -- updates -------------------------------------------------------
    # Inserts do not write the packed array bit by bit: they queue bit
    # positions in a buffer of at most ``_pend_cap`` entries (m/8
    # bytes, the packed array's own size) and fold them in with one
    # sorted OR.  A low-fill partial (0.5% at m = 2^26 per benchmark
    # partition) never touches an m-sized array: ``state_slices`` and
    # ``state_bytes`` cut and write its sorted positions directly.
    def _clear(self) -> None:
        """Empty state: zero packed bits, no pending positions."""
        self._bits = np.zeros(self.m_bits // 8, dtype=np.uint8)
        self._dense = False  # _bits may hold set bits
        self._drop_pending()

    def _drop_pending(self) -> None:
        self._pend: list[np.ndarray] = []
        self._pend_n = 0
        self._uniq = False  # _pend is one ascending duplicate-free array

    def _set_bits(self, idx: np.ndarray) -> None:
        """Queue bit positions (< m, any unsigned dtype; copied, so
        callers may reuse ``idx``).  When the buffer passes its cap it
        is deduplicated; if more than half the cap is still used after
        that, it is folded into the packed array."""
        if idx.size == 0:
            return
        self._pend.append(idx.astype(self._pos_dtype))
        self._pend_n += idx.size
        self._uniq = False
        if self._pend_n > self._pend_cap:
            pos = self._pending_unique()
            if pos.size > self._pend_cap // 2:
                self._fold(pos)

    def _pending_unique(self) -> np.ndarray:
        """The pending positions, ascending and deduplicated (kept as
        the buffer, so a second call is free)."""
        if not self._uniq:
            pos = np.unique(np.concatenate(self._pend)) if self._pend else np.zeros(0, self._pos_dtype)
            self._pend, self._pend_n, self._uniq = [pos], pos.size, True
        return self._pend[0]

    def _fold(self, pos: np.ndarray) -> None:
        """OR ascending positions into the packed array; empties the buffer."""
        _or_sorted(self._bits, pos)
        self._dense = True
        self._drop_pending()

    def _consolidate(self) -> None:
        """Fold every pending position into the packed array.  Every
        dense reader (probes, ``bits``, ``merge``, ``intersect``,
        ``update_and_check``; ``pop`` once a bit is dense) calls this
        first."""
        if self._pend_n:
            self._fold(self._pend[0] if self._uniq else np.sort(np.concatenate(self._pend)))

    @property
    def bits(self) -> np.ndarray:
        """Packed LSB-first bit array (consolidated view)."""
        self._consolidate()
        return self._bits

    @bits.setter
    def bits(self, value: np.ndarray) -> None:
        self._drop_pending()
        self._bits = value
        self._dense = True

    def _insert_base(self, base: np.ndarray) -> None:
        """Fan base hashes out to h bit positions chunk by chunk and
        queue them."""
        buf = None
        for s in range(0, base.shape[0], self.CHUNK):
            chunk = base[s : s + self.CHUNK]
            if buf is None or buf.shape[0] != chunk.shape[0]:
                buf = np.empty((chunk.shape[0], self.hash_num), dtype=np.uint64)
            hashes = self._positions_matrix(H.nte64(chunk, self.hash_num, self._fanout_k, out=buf))
            self._set_bits(hashes.ravel())

    def update(self, values) -> None:
        """Insert every element of a string batch: a list, a pandas
        Series or an Arrow string array (read zero-copy, the mapInArrow
        build path); nulls are ``""``."""
        hashes, _ = self._windows(values)
        if self.spaced_seeds:
            for s in range(0, hashes.shape[0], self.CHUNK):
                idx = self._positions_matrix(hashes[s : s + self.CHUNK].copy())
                self._set_bits(idx.ravel())
        else:
            self._insert_base(hashes[:, 0])
        self.n_entry += int(hashes.shape[0])
        self.t_entry += int(len(values))

    update_arrow = update

    def update_and_check(self, values) -> np.ndarray:
        """insertAndCheck (BloomFilter.hpp:200-232): insert every
        window; per ROW return True iff all of its windows were
        already present before their own insertion — exact sequential
        semantics, vectorized: a window is 'already present' iff its
        bits were set in the pre-batch state OR an identical window
        occurred earlier in the batch (identical base hash ⇒ identical
        bits, so the earlier occurrence inserted them)."""
        if self.spaced_seeds:
            raise NotImplementedError(
                "insertAndCheck is defined on the dense-hash filter; spaced-seed "
                "filters are probe/build only (reference pairs insertAndCheck with "
                "ntHash, BloomFilter.hpp:200-232)"
            )
        self._consolidate()
        hashes, rows = self._windows(values)
        base = hashes[:, 0]
        n = len(values)
        if base.size == 0:
            return np.zeros(n, dtype=bool)
        uniq, first_pos, inv = np.unique(base, return_index=True, return_inverse=True)
        pre = np.empty(uniq.shape[0], dtype=bool)
        for s in range(0, uniq.shape[0], self.CHUNK):
            hh = H.nte64(uniq[s : s + self.CHUNK], self.hash_num, self._fanout_k)
            pre[s : s + self.CHUNK] = self._probe_bits(hh)
        self._insert_base(uniq)  # insert everything
        self.n_entry += int(base.shape[0])
        self.t_entry += n
        is_first = np.zeros(base.shape[0], dtype=bool)
        is_first[first_pos] = True
        window_present = pre[inv] | ~is_first
        total = np.bincount(rows, minlength=n)
        hits = np.bincount(rows, weights=window_present.astype(np.float64), minlength=n)
        return (total > 0) & (hits == total)

    def update_hashes(self, hashes: np.ndarray) -> None:
        """Insert pre-hashed (W, h) uint64 blocks (BloomFilter.hpp:185-194)."""
        idx = self._positions_matrix(np.array(hashes, dtype=np.uint64)).ravel()
        self._set_bits(idx)
        self.n_entry += int(hashes.shape[0])

    # -- probes --------------------------------------------------------
    def _probe_bits(self, hashes: np.ndarray) -> np.ndarray:
        """(W, h) hashes → (W,) bool: all h bits set (contains)."""
        if hashes.shape[0] == 0:
            return np.zeros(0, dtype=bool)
        idx = self._positions_matrix(hashes.copy())
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        got = (self._bits[byte_idx] >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        return got.all(axis=1)

    def _probe_bits_base(self, base: np.ndarray) -> np.ndarray:
        """Probe from base (un-fanned) hashes with per-hash
        short-circuit — the vectorized analog of the reference's
        early return on the first unset bit (BloomFilter.hpp:242-244):
        hash column i is computed only for windows still alive, so a
        miss-heavy probe touches ~1/h of the work.  When the first
        column shows a hit-heavy batch the remaining columns fall back
        to one matrix pass (compaction would only add copies)."""
        n = base.shape[0]
        if n == 0:
            return np.zeros(0, dtype=bool)
        k = np.uint64(self._fanout_k)
        h = self.hash_num

        def column_hash(hb: np.ndarray, i: int) -> np.ndarray:
            if i == 0:
                return hb
            with np.errstate(over="ignore"):
                hi = (hb * (np.uint64(i) ^ (k * H.MULTI_SEED))).astype(np.uint64)
            hi ^= hi >> H.MULTI_SHIFT
            return hi

        def gather(ctx, hi: np.ndarray) -> np.ndarray:
            idx = self._positions_column(ctx, hi)
            byte_idx = (idx >> np.uint64(3)).astype(np.int64)
            return ((self._bits[byte_idx] >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)).astype(
                bool
            )

        # dense phase: full-width columns ANDed into one mask — the
        # same work as the matrix probe while most windows are alive,
        # with no (W, h) materialization.  The layout context (blocked:
        # fmix64 block bases) is computed ONCE per chunk, not per column.
        ctx = self._column_context(base)
        alive = gather(ctx, base)
        i = 1
        while i < h and alive.mean() >= 0.5:
            alive &= gather(ctx, column_hash(base, i))
            i += 1
        if i >= h:
            return alive
        # sparse phase: most windows are dead → compact to survivors so
        # each further column touches ~fill·W windows
        alive_idx = np.flatnonzero(alive)
        for j in range(i, h):
            if alive_idx.size == 0:
                break
            sub = base[alive_idx]
            sub_ctx = ctx if ctx is None else ctx[alive_idx]
            alive_idx = alive_idx[gather(sub_ctx, column_hash(sub, j))]
        out = np.zeros(n, dtype=bool)
        out[alive_idx] = True
        return out

    def _probe_all(self, values) -> tuple[np.ndarray, np.ndarray]:
        """Chunked probe: (hit (W,) bool, row_ids)."""
        self._consolidate()
        hashes, rows = self._windows(values)
        hit = np.empty(hashes.shape[0], dtype=bool)
        for s in range(0, hashes.shape[0], self.CHUNK):
            if self.spaced_seeds:
                hit[s : s + self.CHUNK] = self._probe_bits(hashes[s : s + self.CHUNK])
            else:
                hit[s : s + self.CHUNK] = self._probe_bits_base(hashes[s : s + self.CHUNK, 0])
        return hit, rows

    def contains_batch(self, values) -> np.ndarray:
        """Whole-element probe: for k==0 one bool per string; for k>0 a
        bool per string that is True iff ALL its windows are present
        (reference containSeq's hits==total, testBloom_rolling.cpp:19-33)."""
        hit, rows = self._probe_all(values)
        n = len(values)
        if self.k == 0:
            return hit
        total = np.bincount(rows, minlength=n)
        hits = np.bincount(rows, weights=hit.astype(np.float64), minlength=n)
        return (total > 0) & (hits == total)

    def seen_fraction(self, values) -> np.ndarray:
        """Per string: fraction of its windows present (k>0 mode)."""
        hit, rows = self._probe_all(values)
        n = len(values)
        total = np.bincount(rows, minlength=n).astype(np.float64)
        hits = np.bincount(rows, weights=hit.astype(np.float64), minlength=n)
        with np.errstate(invalid="ignore", divide="ignore"):
            frac = np.where(total > 0, hits / total, 0.0)
        return frac

    contains_arrow = contains_batch
    seen_fraction_arrow = seen_fraction

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        self._consolidate()
        return self._probe_bits(hashes)

    # -- merge algebra -------------------------------------------------
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        self._require_compatible(other)
        self._consolidate()
        other._consolidate()
        np.bitwise_or(self._bits, other._bits, out=self._bits)
        self._dense |= other._dense
        self.n_entry += other.n_entry
        self.t_entry += other.t_entry
        return self

    union = merge

    @classmethod
    def bulk_merge(cls, payloads_params: list[tuple[dict, bytes]]) -> "BloomFilter":
        """Batched OR of many serialized partials: dense payloads OR
        directly; sparse payloads only join the pending buffer, so
        merging many low-fill partition sketches costs one sort."""
        out = cls(**payloads_params[0][0])
        for params, payload in payloads_params:
            if params != payloads_params[0][0]:
                raise ValueError("incompatible bloom params in bulk merge")
            out._absorb(payload)
        return out

    # -- slice-parallel merge (reduce-scatter) -------------------------
    # slice payload layout: [fmt u8][body]; fmt 0 = dense bytes of the
    # slice range, fmt 1 = ascending uint32 bit-indices RELATIVE to the
    # slice start, chosen whenever it is smaller than the dense bytes.

    def state_slices(self, n_slices: int) -> list[bytes]:
        bounds = [int(b) for b in slice_bounds(self.m_bits // 8, n_slices)]
        out = []
        if not self._dense:
            # every bit still pending: cut the ascending positions at
            # the slice bounds; no m-sized array is touched
            pos = self._pending_unique()
            starts = (np.array(bounds[:-1], dtype=np.int64) * 8).astype(pos.dtype)
            cuts = np.append(np.searchsorted(pos, starts), pos.size)
            for s in range(n_slices):
                lo, hi = bounds[s], bounds[s + 1]
                rel = pos[cuts[s] : cuts[s + 1]] - pos.dtype.type(lo * 8)
                if rel.size * 4 < hi - lo:
                    out.append(b"\x01" + rel.astype(np.uint32, copy=False).tobytes())
                else:
                    dense = np.zeros(hi - lo, dtype=np.uint8)
                    _or_sorted(dense, rel)
                    out.append(b"\x00" + dense.tobytes())
            return out
        self._consolidate()
        for s in range(n_slices):
            chunk = self._bits[bounds[s] : bounds[s + 1]]
            # popcount ≥ nonzero bytes: only a slice with few of them
            # can have a smaller sparse body
            if np.count_nonzero(chunk) * 4 < chunk.size:
                rel = _set_positions(chunk)
                if rel.size * 4 < chunk.size:
                    out.append(b"\x01" + rel.astype(np.uint32).tobytes())
                    continue
            out.append(b"\x00" + chunk.tobytes())
        return out

    @classmethod
    def merge_slice_blobs(cls, params: dict, slice_idx: int, n_slices: int, blobs: list[bytes]) -> bytes:
        bounds = slice_bounds(params["m_bits"] // 8, n_slices)
        lo, hi = int(bounds[slice_idx]), int(bounds[slice_idx + 1])
        acc = np.zeros(hi - lo, dtype=np.uint8)
        sparse: list[np.ndarray] = []
        for b in blobs:
            if b[0] == 0:
                dense = np.frombuffer(b, dtype=np.uint8, offset=1)
                if dense.shape[0] != hi - lo:
                    raise ValueError("slice size mismatch")
                np.bitwise_or(acc, dense, out=acc)
            elif b[0] == 1:
                sparse.append(np.frombuffer(b, dtype=np.uint32, offset=1))
            else:
                raise ValueError(f"unknown Bloom slice format byte {b[0]}")
        if sparse:
            idx = np.sort(np.concatenate(sparse))
            if idx.size and int(idx[-1]) >= (hi - lo) * 8:
                raise ValueError(f"Bloom slice bit position {int(idx[-1])} outside the slice")
            _or_sorted(acc, idx)
        return acc.tobytes()

    @classmethod
    def assemble_slices(cls, params: dict, slices: list[bytes], n_entry: int, t_entry: int) -> "BloomFilter":
        out = cls(**params)
        out.bits = np.frombuffer(b"".join(slices), dtype=np.uint8).copy()
        if out._bits.shape[0] != out.m_bits // 8:
            raise ValueError("assembled slice sizes inconsistent")
        out.n_entry = int(n_entry)
        out.t_entry = int(t_entry)
        return out

    def intersect(self, other: "BloomFilter") -> "BloomFilter":
        self._require_compatible(other)
        out = type(self)(**self.params())
        out.bits = np.bitwise_and(self.bits, other.bits)
        return out

    # -- stats ---------------------------------------------------------
    def pop(self) -> int:
        """Set-bit count (getPop, BloomFilter.hpp:316-323): the pending
        count while no bit is dense, else a chunked LUT gather (a
        whole-array gather materializes a 2×-sized uint16 temp and
        runs ~6× slower at GB scale)."""
        if not self._dense:
            return int(self._pending_unique().size)
        self._consolidate()
        total = 0
        step = 1 << 24
        for s in range(0, self._bits.size, step):
            total += int(_POPCNT_LUT[self._bits[s : s + step]].sum())
        return total

    def fpr(self) -> float:
        return P.observed_fpr(self.pop(), self.m_bits, self.hash_num)

    def estimate_cardinality(self) -> float:
        """Distinct-element estimate from the fill level (Swamidass &
        Baldi 2007): n̂ = -(m/h)·ln(1 − X/m) with X = pop().  The
        inverse of the expected-fill law the reference's sizing
        formulas assume (BloomFilter.hpp:406-419) — a Bloom filter
        built for membership doubles as a coarse distinct counter
        with no extra state.  For windowed filters (k>0) the
        "elements" are k-gram windows, not input strings.  Saturated
        filters (X == m) have no finite estimate → inf."""
        import math

        x = self.pop()
        if x >= self.m_bits:
            return float("inf")
        return -(self.m_bits / self.hash_num) * math.log1p(-x / self.m_bits)

    def theoretical_fpr(self) -> float:
        return P.fpr_num_inserted(self.n_entry, self.m_bits, self.hash_num)

    def metrics(self) -> dict[str, Any]:
        pop = self.pop()
        return {"pop": pop, "fill": pop / self.m_bits, "n_entry": self.n_entry}

    # -- state ---------------------------------------------------------
    # Partial-sketch transport format: a sparsely-filled partition
    # serializes ascending set-bit indices (uint32/uint64) instead of
    # the dense array — this cuts the blob shuffle volume by the fill
    # factor.  fmt: 0=dense, 1=sparse u32, 2=sparse u64.
    def state_bytes(self) -> bytes:
        hdr = np.array([self.n_entry, self.t_entry], dtype=np.uint64).tobytes()
        idx_bytes = 4 if self.m_bits < (1 << 32) else 8
        sparse_fmt, idx_dtype = (b"\x01", np.uint32) if idx_bytes == 4 else (b"\x02", np.uint64)
        # measured locally: blob transport (Arrow/persist) costs more
        # than sparse reconstruction, so prefer sparse whenever it
        # shrinks the blob meaningfully
        if not self._dense:
            # every bit still pending: the exact set-bit count decides
            # and the body is the sorted positions themselves
            pos = self._pending_unique()
            if pos.size * idx_bytes < (self.m_bits // 8) * 0.6:
                return hdr + sparse_fmt + pos.astype(idx_dtype, copy=False).tobytes()
        else:
            # n_entry*h bounds popcount from above — a proxy that avoids
            # a popcount pass over the dense array
            pop_bound = min(self.n_entry * self.hash_num, self.m_bits)
            if pop_bound * idx_bytes < (self.m_bits // 8) * 0.6:
                self._consolidate()
                return hdr + sparse_fmt + _set_positions(self._bits).astype(idx_dtype).tobytes()
        self._consolidate()
        return hdr + b"\x00" + self._bits.tobytes()

    def load_state(self, payload: bytes) -> None:
        self._clear()
        self.n_entry = self.t_entry = 0
        self._absorb(payload)

    def _absorb(self, payload: bytes) -> None:
        """OR one ``state_bytes`` payload into this filter: a dense body
        into the packed array, a sparse one into the pending buffer."""
        hdr = np.frombuffer(payload[:16], dtype=np.uint64)
        self.n_entry += int(hdr[0])
        self.t_entry += int(hdr[1])
        fmt = payload[16]
        body = payload[17:]
        if fmt == 0:
            dense = np.frombuffer(body, dtype=np.uint8)
            if dense.shape[0] != self.m_bits // 8:
                raise ValueError("payload size mismatch")
            np.bitwise_or(self._bits, dense, out=self._bits)
            self._dense = True
        elif fmt in (1, 2):
            idx = np.frombuffer(body, dtype=np.uint32 if fmt == 1 else np.uint64)
            if idx.size and int(idx.max()) >= self.m_bits:
                raise ValueError(f"Bloom payload bit position {int(idx.max())} >= m_bits {self.m_bits}")
            self._set_bits(idx)
        else:
            raise ValueError(f"unknown Bloom payload format byte {fmt}")


class BlockedBloomFilter(BloomFilter):
    """Register-blocked Bloom filter (Putze, Sanders & Singler, JEA
    2009): the seed-0 hash picks ONE ``block_bits``-bit block (default
    512 = one 64-byte cache line) and all ``hash_num`` bits land
    inside it, so an insert or probe touches one cache line per key
    instead of ``hash_num`` random lines.  The build no longer gains
    from it here: inserts queue positions and fold them in one sorted
    pass, which is layout-blind (4M keys into m = 2^28 on a 4-core
    x86 host: 0.76 s flat, 0.83 s blocked).  The 7× scatter gain in
    NOTES_r5 was measured against the earlier random scatter kernel.

    The price is a known FPR penalty (block loads are Poisson, heavy
    blocks false-positive more): ``params.blocked_fpr`` is the
    analytic mixture bound the q108 gate checks; at equal m/n/h it is
    always ≥ the flat filter's rate and shrinks as ``block_bits``
    grows.

    Everything else — NTE64 fan-out, k-gram/canonical/spaced hashing,
    Arrow kernels, OR merges, reduce-scatter slices, the Sketch
    envelope, distributed build/probe — is inherited unchanged: the
    layout is confined to the two ``_positions_*`` hooks, and bitwise
    OR of equal-parameter blocked filters is exactly the blocked build
    of the union (same per-key bits).  Not storable in the reference
    ``.bf`` layout (no block field in that header — ``bfio.save_bloom``
    rejects it); use the generic envelope.
    """

    def __init__(self, m_bits: int, hash_num: int, k: int = 0, *, block_bits: int = 512, **kw):
        if block_bits <= 0 or block_bits % 64:
            raise ValueError("block_bits must be a positive multiple of 64")
        super().__init__(m_bits, hash_num, k, **kw)
        if self.m_bits % block_bits:
            raise ValueError("m_bits must be a multiple of block_bits")
        self.block_bits = int(block_bits)

    def params(self) -> dict[str, Any]:
        out = super().params()
        out["block_bits"] = self.block_bits
        return out

    @classmethod
    def for_capacity(cls, n: int, fpr: float, k: int = 0, hash_num: int | None = None, **kw) -> "BlockedBloomFilter":
        """Flat-formula sizing (the blocked penalty at B = 512 is a few
        tens of percent on FPR, not orders of magnitude); gate against
        ``params.blocked_fpr``, not the flat bound."""
        m, h = P.calc_optimal_size(n, fpr, hash_num)
        bb = int(kw.pop("block_bits", 512))
        m = ((m + bb - 1) // bb) * bb  # round up to whole blocks
        return cls(m, h, k, block_bits=bb, dfpr=fpr, **kw)

    @staticmethod
    def _fmix64(h: np.ndarray) -> np.ndarray:
        """MurmurHash3 fmix64 finalizer (public constants): the block
        selector must NOT share low bits with the in-block offsets —
        ``bVal % nb`` and ``bVal % B`` correlate (measured 3× the
        analytic FPR at B=512) because the NTE64 law keeps
        hVal[0] = bVal."""
        h = h ^ (h >> np.uint64(33))
        with np.errstate(over="ignore"):
            h = h * np.uint64(0xFF51AFD7ED558CCD)
            h = h ^ (h >> np.uint64(33))
            h = h * np.uint64(0xC4CEB9FE1A85EC53)
        return h ^ (h >> np.uint64(33))

    def _positions_matrix(self, hashes: np.ndarray) -> np.ndarray:
        bb = np.uint64(self.block_bits)
        nb = np.uint64(self.m_bits // self.block_bits)
        blk = (self._fmix64(hashes[:, 0]) % nb)[:, None] * bb  # seed-0 column, remixed
        np.remainder(hashes, bb, out=hashes)
        np.add(hashes, blk, out=hashes)
        return hashes

    def _column_context(self, base: np.ndarray):
        bb = np.uint64(self.block_bits)
        nb = np.uint64(self.m_bits // self.block_bits)
        return (self._fmix64(base) % nb) * bb  # block base, once per chunk

    def _positions_column(self, ctx, hi: np.ndarray) -> np.ndarray:
        return ctx + hi % np.uint64(self.block_bits)

    def theoretical_fpr(self) -> float:
        """Analytic blocked bound at the current insert count."""
        return P.blocked_fpr(self.n_entry, self.m_bits, self.hash_num, self.block_bits)
