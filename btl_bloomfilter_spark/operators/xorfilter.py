"""Static XOR filter — block-sharded distributed peeling build.

Graf & Lemire, "Xor Filters: Faster and Smaller Than Bloom and Cuckoo
Filters" (ACM JEA 2020).  The reference library's whole query surface
is Bloom-shaped (`BloomFilter.hpp`); the xor filter answers the SAME
membership question for a STATIC key set in ~1.23·b bits/key (b =
fingerprint bits) versus Bloom's 1.44·log2(1/fpr) — at fpr 2^-8 that
is 9.84 vs 11.5 bits/key — with exactly 3 cache probes per query and
zero false negatives BY CONSTRUCTION (the build solves B[h0]^B[h1]^
B[h2] = fingerprint(key) for every key; a probe of an inserted key
replays the solved equation).  The trade is honesty about mutability:
there is no insert after construction — the solution is a global
linear system over GF(2), so ``update``/``merge`` raise instead of
silently degrading (contrast `BloomFilter.hpp:171-194`, whose OR-ing
insert is the reference's defining mutable law).

Distributed construction — the part Spark has to get right:

1.  ``distinct`` keys → one 64-bit key hash ``u`` per key
    (functions/hashing.hash_strings — the same whole-string NTF64
    fold every other operator probes with) via one mapInArrow pass
    that also assigns a BLOCK ``(_splitmix64(u ^ salt) >> 1) %
    nblocks``.  nblocks is chosen so blocks hold ~``target_block_keys``
    keys: each block is an INDEPENDENT xor filter over its keys.
2.  ``groupBy(block).applyInPandas`` — one numpy peeling solve per
    block (vectorized rounds: each round strips every key that owns a
    singleton slot; a 3-hypergraph at c = 1.23n + 32 peels completely
    with overwhelming probability, and a failed block retries with a
    re-salted seed, deterministically).  Only (u:int64) rows cross
    the shuffle — 8 bytes per DISTINCT key, whatever the corpus size.
3.  The driver collects nblocks (seed, seglen, fingerprint-array)
    rows — total 1.23·b/8 bytes per key, the same order as the Bloom
    blob the driver must hold anyway — and concatenates them into one
    probe envelope.

Why blocks: peeling is inherently sequential-ish per filter (rounds
over a shared count table), so ONE filter over 10^12 keys cannot be
built by merging partials the way the Bloom OR can.  Sharding by a
pure hash of the key makes each block a self-contained solve of
bounded size (the classic "split-block" construction, also how the
original authors shard large builds), keeps every solve executor-local
and embarrassingly parallel, and leaves the probe a pure broadcast
map: block select + 3 gathers from one concatenated array.

Determinism: block assignment, per-block seed schedule (attempt
counter mixed into the salt) and the vectorized peel order are all
pure functions of the key set and salt → rebuilds are byte-identical
(pinned in tests), the same law the Bloom build has.

FPR: a non-member's probe xors 3 fingerprints it never constrained →
uniform b-bit value, P(match) = 2^-b exactly (no load-factor term —
unlike Bloom, occupancy does not degrade it).  Tests gate the
observed rate against 2^-b with binomial slack.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..functions import hashing as H
from ..functions.hashing import _splitmix64
from .base import Sketch
from ..functions.hashing import _strings_of

__all__ = ["XorFilter", "build_xor_filter", "xor_contains"]

_U64 = np.uint64


def _usalt(salt: int) -> np.uint64:
    return _U64(salt & 0xFFFFFFFFFFFFFFFF)


def _derive(u: np.ndarray, seed: int, seglen: int):
    """Per-key (h0, h1, h2, raw fingerprint source) from the key hash.
    h_i lives in segment i of the block: segments are disjoint, so a
    key's 3 slots are always distinct (the peeling precondition)."""
    m1 = _splitmix64(u ^ _usalt(seed))
    m2 = _splitmix64(m1)
    m3 = _splitmix64(m2)
    s = _U64(seglen)
    h0 = (m1 % s).astype(np.int64)
    h1 = (m2 % s).astype(np.int64) + seglen
    h2 = (m3 % s).astype(np.int64) + 2 * seglen
    fpsrc = _splitmix64(m3)
    return h0, h1, h2, fpsrc


def _fp_of(fpsrc: np.ndarray, fp_bits: int) -> np.ndarray:
    dt = np.uint8 if fp_bits <= 8 else np.uint16
    return (fpsrc & _U64((1 << fp_bits) - 1)).astype(dt)


def _peel(h0: np.ndarray, h1: np.ndarray, h2: np.ndarray, c: int):
    """Vectorized-round peeling.  Returns a list of (key_idx, slot)
    round pairs in peel order, or None if the 3-hypergraph has a
    2-core (retry with a new seed).

    Round law (why the vectorized form is sound): a singleton slot is
    referenced by exactly ONE alive key, so (a) within a round all
    assigned slots are distinct, (b) no alive key references another
    round-key's assigned slot, and (c) a slot once assigned can never
    be referenced by any later-alive key — uniqueness for the fill."""
    n = h0.shape[0]
    alive = np.ones(n, dtype=bool)
    idx = np.arange(n)
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    remaining = n
    while remaining:
        cnt = np.bincount(h0[alive], minlength=c)
        cnt += np.bincount(h1[alive], minlength=c)
        cnt += np.bincount(h2[alive], minlength=c)
        single = cnt == 1
        a0 = single[h0] & alive
        a1 = single[h1] & alive
        a2 = single[h2] & alive
        sel = a0 | a1 | a2
        k = idx[sel]
        if k.size == 0:
            return None
        slot = np.where(a0[sel], h0[sel], np.where(a1[sel], h1[sel], h2[sel]))
        rounds.append((k, slot))
        alive[sel] = False
        remaining -= k.size
    return rounds


def _build_block(u: np.ndarray, block: int, salt: int, fp_bits: int):
    """Solve one block.  Returns (seed, seglen, fingerprint bytes)."""
    u = np.unique(u.astype(np.uint64))  # 64-bit-collided keys fold (standard)
    n = u.shape[0]
    if n == 0:
        return 0, 0, b""
    c = int(np.ceil(1.23 * n)) + 32
    c += (-c) % 3
    seglen = c // 3
    for attempt in range(128):
        seed_u = int(
            _splitmix64(
                np.array(
                    [(_usalt(salt) << _U64(1)) ^ (_U64(block) << _U64(32)) ^ _U64(attempt)],
                    dtype=np.uint64,
                )
            )[0]
        )
        seed = seed_u - (1 << 64) if seed_u >= 1 << 63 else seed_u  # as signed i64
        h0, h1, h2, fpsrc = _derive(u, seed, seglen)
        rounds = _peel(h0, h1, h2, c)
        if rounds is None:
            continue
        fp = _fp_of(fpsrc, fp_bits)
        B = np.zeros(c, dtype=fp.dtype)
        for k, slot in reversed(rounds):
            others = B[h0[k]] ^ B[h1[k]] ^ B[h2[k]] ^ B[slot]
            B[slot] = fp[k] ^ others
        # structural no-false-negative check: every equation solved
        assert bool(np.all((B[h0] ^ B[h1] ^ B[h2]) == fp))
        return seed, seglen, B.tobytes()
    raise RuntimeError(f"xor filter block {block} failed to peel after 128 seeds (n={n})")


class XorFilter(Sketch):
    """Driver/executor-side probe envelope (Sketch only for the
    envelope + broadcast-probe plumbing — ``update``/``merge`` raise:
    the structure is static by construction, see module doc)."""

    def __init__(self, fp_bits: int = 8, salt: int = 0, n_keys: int = 0):
        if fp_bits not in (8, 16):
            raise ValueError("fp_bits must be 8 or 16")
        self.fp_bits = int(fp_bits)
        self.salt = int(salt)
        self.n_keys = int(n_keys)
        self.seeds = np.empty(0, dtype=np.int64)
        self.seglens = np.empty(0, dtype=np.int64)
        self.offsets = np.zeros(1, dtype=np.int64)  # slot offsets, len nblocks+1
        self.fps = np.empty(0, dtype=np.uint8 if fp_bits <= 8 else np.uint16)

    # -- static-structure honesty -------------------------------------
    def update(self, values) -> None:
        raise NotImplementedError(
            "XorFilter is static: membership is a solved GF(2) system "
            "(Graf-Lemire 2020); rebuild with build_xor_filter instead"
        )

    def merge(self, other: "Sketch") -> "Sketch":
        raise NotImplementedError(
            "XorFilter blocks are solved independently and cannot be "
            "OR-merged; merging key sets requires a rebuild"
        )

    # -- envelope ------------------------------------------------------
    def params(self) -> dict:
        return {"fp_bits": self.fp_bits, "salt": self.salt, "n_keys": self.n_keys}

    def state_bytes(self) -> bytes:
        import struct

        nb = self.seeds.shape[0]
        return (
            struct.pack("<q", nb)
            + self.seeds.astype("<i8").tobytes()
            + self.seglens.astype("<i8").tobytes()
            + self.fps.tobytes()
        )

    def load_state(self, payload: bytes) -> None:
        import struct

        (nb,) = struct.unpack_from("<q", payload)
        off = 8
        self.seeds = np.frombuffer(payload, dtype="<i8", count=nb, offset=off).astype(np.int64)
        off += 8 * nb
        self.seglens = np.frombuffer(payload, dtype="<i8", count=nb, offset=off).astype(np.int64)
        off += 8 * nb
        dt = np.uint8 if self.fp_bits <= 8 else np.uint16
        self.fps = np.frombuffer(payload, dtype=dt, offset=off).copy()
        self.offsets = np.zeros(nb + 1, dtype=np.int64)
        np.cumsum(3 * self.seglens, out=self.offsets[1:])

    # -- probe -----------------------------------------------------------
    @property
    def nblocks(self) -> int:
        return int(self.seeds.shape[0])

    @property
    def total_bits(self) -> int:
        return int(self.fps.shape[0]) * self.fp_bits

    def fpr_bound(self) -> float:
        return 2.0 ** (-self.fp_bits)

    def contains_batch(self, values) -> np.ndarray:
        strings = _strings_of(values)
        n = len(strings)
        if n == 0 or self.nblocks == 0:
            return np.zeros(n, dtype=bool)
        u = H.hash_strings(strings, 1)[:, 0]
        bsel = ((_splitmix64(u ^ _usalt(self.salt)) >> _U64(1)) % _U64(self.nblocks)).astype(np.int64)
        seg = self.seglens[bsel]
        ok = seg > 0
        res = np.zeros(n, dtype=bool)
        if not ok.any():
            return res
        segs = np.where(ok, seg, 1)
        seeds = self.seeds[bsel].astype(np.uint64)
        m1 = _splitmix64(u ^ seeds)
        m2 = _splitmix64(m1)
        m3 = _splitmix64(m2)
        su = segs.astype(np.uint64)
        base = self.offsets[bsel]
        h0 = base + (m1 % su).astype(np.int64)
        h1 = base + segs + (m2 % su).astype(np.int64)
        h2 = base + 2 * segs + (m3 % su).astype(np.int64)
        fp = _fp_of(_splitmix64(m3), self.fp_bits)
        got = self.fps[h0] ^ self.fps[h1] ^ self.fps[h2]
        res = (got == fp) & ok
        return res

    def metrics(self) -> dict:
        return {
            "nblocks": self.nblocks,
            "n_keys": self.n_keys,
            "bits_per_key": (self.total_bits / self.n_keys) if self.n_keys else 0.0,
        }


def hashed_blocked_keys(df: DataFrame, col: str, *, nblocks: int, salt: int = 0) -> DataFrame:
    """(block:int, u:long) — one mapInArrow pass over zero-copy UTF-8
    buffers: whole-string NTF64 fold + splitmix block select.  NULLs
    hash as empty strings (the library-wide _strings_of convention)."""
    import pyarrow as pa

    sdf = df.select(F.col(col).alias("__key"))

    def fn(batches):
        for rb in batches:
            arr = rb.column(0)
            if len(arr) == 0:
                u = np.empty(0, dtype=np.uint64)
            else:
                # zero-copy: hash straight off the Arrow UTF-8 layout
                # (r6: the former to_pylist + per-string re-encode paid
                # a Python object round-trip per key); NULL rows hash
                # as empty spans == the _strings_of '' convention
                buf, offsets, null_mask = H.arrow_utf8_buffers(arr)
                starts, ends = offsets[:-1], offsets[1:]
                if null_mask is not None:
                    ends = np.where(null_mask, starts, ends)
                u = H.hash_spans_from_buffers(buf, starts, ends, 1)[:, 0]
            block = ((_splitmix64(u ^ _usalt(salt)) >> _U64(1)) % _U64(nblocks)).astype(np.int32)
            yield pa.record_batch(
                [pa.array(block, type=pa.int32()), pa.array(u.view(np.int64))],
                names=["block", "u"],
            )

    return sdf.mapInArrow(fn, "block int, u long")


def build_xor_filter(
    df: DataFrame,
    col: str,
    *,
    fp_bits: int = 8,
    salt: int = 0,
    target_block_keys: int = 1 << 18,
    nblocks: int | None = None,
) -> XorFilter:
    """Distributed build (see module doc).  One distinct shuffle over
    the keys, one (block, u) shuffle of 12 bytes per distinct key, one
    independent numpy peel per block, nblocks small rows collected."""
    keys = df.select(F.col(col).alias("__key")).where(F.col("__key").isNotNull()).distinct()
    keys = keys.persist()
    try:
        n = keys.count()
        nb = int(nblocks) if nblocks else max(1, -(-n // target_block_keys))
        hashed = hashed_blocked_keys(keys, "__key", nblocks=nb, salt=salt)

        def solve(pdf):
            import pandas as pd

            b = int(pdf["block"].iloc[0])
            seed, seglen, fpb = _build_block(pdf["u"].to_numpy().view(np.uint64), b, salt, fp_bits)
            return pd.DataFrame({"block": [b], "seed": [seed], "seglen": [seglen], "fp": [fpb]})

        rows = (
            hashed.groupBy("block")
            .applyInPandas(solve, "block int, seed long, seglen long, fp binary")
            .collect()
        )
    finally:
        keys.unpersist()

    xf = XorFilter(fp_bits=fp_bits, salt=salt, n_keys=n)
    xf.seeds = np.zeros(nb, dtype=np.int64)
    xf.seglens = np.zeros(nb, dtype=np.int64)
    parts: list[bytes] = [b""] * nb
    for r in rows:
        xf.seeds[r["block"]] = r["seed"]
        xf.seglens[r["block"]] = r["seglen"]
        parts[r["block"]] = bytes(r["fp"])
    dt = np.uint8 if fp_bits <= 8 else np.uint16
    xf.fps = np.frombuffer(b"".join(parts), dtype=dt).copy()
    xf.offsets = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(3 * xf.seglens, out=xf.offsets[1:])
    return xf


def xor_contains(spark, xf: XorFilter, col) -> "F.Column":
    """Broadcast-probe column (pure map, same plan shape as
    functions/probe.bloom_contains)."""
    from ..functions.probe import _probe_udf

    return _probe_udf(spark, xf, "contains_batch", "boolean")(col)
