"""Cuckoo filter — deletion-supporting approximate membership
(Fan, Andersen, Kaminsky, Mitzenmacher, CoNEXT 2014).

Completes the library's filter family along the mutability axis: the
Bloom filter (`BloomFilter.hpp:171-194` semantics, operators/bloom)
inserts forever but cannot delete; the counting Bloom
(`CountingBloomFilter.hpp`, operators/counting) deletes but pays 8
bits per COUNTER (~8x the bit array); the xor filter
(operators/xorfilter) is smallest but fully static.  The cuckoo
filter stores explicit FINGERPRINTS in a 2-choice bucket table:
membership has zero false negatives for inserted keys, deletion
removes one stored fingerprint exactly, and space is
fp_bits/load ≈ 20 bits/key at fp_bits=16 — several times smaller
than a counting Bloom at the same false-positive rate (gated in
q116, not just claimed).

Partial-key cuckoo hashing: a key's two candidate buckets are
``i1 = h(key) mod nb`` and ``i2 = i1 XOR (h(fp) mod nb)`` — the alt
bucket is computable from (bucket, fingerprint) ALONE, which is what
makes eviction chains (and deletion) possible without the key.  nb
is a power of two so the XOR is closed.  Deleting a key that was
never inserted is a CONTRACT VIOLATION (it can strip another key's
fingerprint and manufacture a false negative — the paper's own
caveat); this implementation raises when neither candidate bucket
holds the fingerprint, but a colliding fingerprint is
indistinguishable by construction — documented residual, same as the
reference counting filter's underflow contract.

Distributed build — same shape as the xor filter, for the same
reason: cuckoo insertion is a sequential eviction chain over shared
state, so ONE table over 10^12 keys cannot be built by merging
partials.  Keys are sharded by a pure hash into independent
fixed-size blocks (``hashed_blocked_keys``, shared with xorfilter —
8-byte key hashes are the only shuffle payload), each block builds
its own table in one applyInPandas task with a DETERMINISTIC
eviction schedule (per-attempt seeded LCG picks the victim slot, so
rebuilds are byte-identical and a failed chain retries with the next
seed), and the driver concatenates nblocks small tables into one
probe envelope.  Probe is a broadcast pure map: block select, two
bucket gathers, fingerprint compare.  ``merge`` raises — two solved
tables cannot be unioned (slots collide); ``update`` raises on the
envelope — ONLINE insert would be driver-sequential by nature
(mutable shared state), the same honesty as the xor filter;
deletion, which IS well-defined post-build, is provided
(:meth:`CuckooFilter.delete_batch`).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..functions import hashing as H
from ..functions.hashing import _splitmix64
from .base import Sketch
from ..functions.hashing import _strings_of
from .xorfilter import _usalt, hashed_blocked_keys

__all__ = ["CuckooFilter", "build_cuckoo_filter", "cuckoo_contains"]

_U64 = np.uint64
_BUCKET = 4          # slots per bucket (the paper's (2,4) sweet spot)
_MAX_KICKS = 500
_FP_MIX = _U64(0x9E3779B97F4A7C15)  # fp -> alt-offset mix constant


def _fp_and_i1(u: np.ndarray, seed: int, fp_bits: int, nb: int):
    """Per-key (fingerprint in 1..2^f-1, primary bucket).  fp derives
    from a DIFFERENT mix step than i1 so the pair is ~independent."""
    m1 = _splitmix64(u ^ _U64(seed & 0xFFFFFFFFFFFFFFFF))
    m2 = _splitmix64(m1)
    fpmax = _U64((1 << fp_bits) - 1)
    fp = (_U64(1) + m2 % fpmax).astype(np.uint32)
    i1 = (m1 % _U64(nb)).astype(np.int64)
    return fp, i1


def _alt_offset(fp: int, nb: int) -> int:
    """h(fp) mod nb for the partial-key alt bucket (scalar)."""
    return int(_splitmix64(np.array([fp], dtype=np.uint64) * _FP_MIX)[0] % _U64(nb))


def _nbuckets_for(n: int) -> int:
    nb = 1
    while nb * _BUCKET * 0.95 < n:
        nb <<= 1
    return nb


def _build_block(u: np.ndarray, block: int, salt: int, fp_bits: int):
    """Insert every key of one block.  Returns (seed, nbuckets,
    table bytes).  Deterministic: the seed schedule is a pure function
    of (salt, block, attempt) and the eviction LCG of the seed."""
    u = np.unique(u.astype(np.uint64))
    n = u.shape[0]
    if n == 0:
        return 0, 0, b""
    nb = _nbuckets_for(n)
    dt = np.uint8 if fp_bits <= 8 else np.uint16
    # Alt-bucket offset LUT over the full fingerprint space (nb is
    # fixed for the block, so one vectorized splitmix pass replaces
    # the per-key/per-kick scalar `_alt_offset` numpy round-trips that
    # dominated the build loop — byte-identical tables, r6 measured).
    alt = (
        _splitmix64(np.arange(1 << fp_bits, dtype=_U64) * _FP_MIX) % _U64(nb)
    ).astype(np.int64).tolist()
    for attempt in range(64):
        seed_u = int(
            _splitmix64(
                np.array(
                    [(_usalt(salt) << _U64(2)) ^ (_U64(block) << _U64(32)) ^ _U64(attempt)],
                    dtype=np.uint64,
                )
            )[0]
        )
        seed = seed_u - (1 << 64) if seed_u >= 1 << 63 else seed_u
        fp_a, i1_a = _fp_and_i1(u, seed, fp_bits, nb)
        # pure-Python ints + list-of-lists inside the sequential chain:
        # same insertion schedule (first free slot, primary-then-alt,
        # seeded-LCG victim), same final layout, no per-element numpy
        fps = fp_a.tolist()
        i1s = i1_a.tolist()
        buckets = [[0] * _BUCKET for _ in range(nb)]
        lcg = (seed_u | 1) & 0xFFFFFFFFFFFFFFFF  # minstd-style odd state
        ok = True
        for k in range(n):
            f = fps[k]
            i = i1s[k]
            j = i ^ alt[f]
            placed = False
            for b in (i, j):
                row = buckets[b]
                if 0 in row:
                    row[row.index(0)] = f
                    placed = True
                    break
            if placed:
                continue
            cur = i  # evict from the primary bucket first (deterministic)
            for _ in range(_MAX_KICKS):
                lcg = (lcg * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
                slot = (lcg >> 33) % _BUCKET
                row = buckets[cur]
                f, row[slot] = row[slot], f
                cur = cur ^ alt[f]
                row = buckets[cur]
                if 0 in row:
                    row[row.index(0)] = f
                    placed = True
                    break
            if not placed:
                ok = False
                break
        if ok:
            return seed, nb, np.asarray(buckets, dtype=dt).tobytes()
    raise RuntimeError(f"cuckoo block {block} failed after 64 seeds (n={n})")


class CuckooFilter(Sketch):
    """Probe/delete envelope over the concatenated block tables."""

    def __init__(self, fp_bits: int = 16, salt: int = 0, n_keys: int = 0):
        if fp_bits not in (8, 16):
            raise ValueError("fp_bits must be 8 or 16")
        self.fp_bits = int(fp_bits)
        self.salt = int(salt)
        self.n_keys = int(n_keys)
        self.seeds = np.empty(0, dtype=np.int64)
        self.nbuckets = np.empty(0, dtype=np.int64)
        self.offsets = np.zeros(1, dtype=np.int64)  # SLOT offsets, len nblocks+1
        self.table = np.empty(0, dtype=np.uint16)

    # -- mutability honesty --------------------------------------------
    def update(self, values) -> None:
        raise NotImplementedError(
            "CuckooFilter online insert mutates shared eviction state "
            "(single-writer by nature); rebuild with build_cuckoo_filter. "
            "Deletion IS supported: delete_batch."
        )

    def merge(self, other: "Sketch") -> "Sketch":
        raise NotImplementedError(
            "two solved cuckoo tables cannot be unioned (slot collisions); "
            "merging key sets requires a rebuild"
        )

    # -- envelope --------------------------------------------------------
    def params(self) -> dict:
        return {"fp_bits": self.fp_bits, "salt": self.salt, "n_keys": self.n_keys}

    def state_bytes(self) -> bytes:
        nb = self.seeds.shape[0]
        return (
            struct.pack("<q", nb)
            + self.seeds.astype("<i8").tobytes()
            + self.nbuckets.astype("<i8").tobytes()
            + self.table.astype("<u2" if self.fp_bits > 8 else "u1").tobytes()
        )

    def load_state(self, payload: bytes) -> None:
        (nb,) = struct.unpack_from("<q", payload)
        off = 8
        self.seeds = np.frombuffer(payload, dtype="<i8", count=nb, offset=off).astype(np.int64)
        off += 8 * nb
        self.nbuckets = np.frombuffer(payload, dtype="<i8", count=nb, offset=off).astype(np.int64)
        off += 8 * nb
        dt = "<u2" if self.fp_bits > 8 else "u1"
        self.table = np.frombuffer(payload, dtype=dt, offset=off).astype(
            np.uint16 if self.fp_bits > 8 else np.uint8
        )
        self._reoffset()

    def _reoffset(self) -> None:
        self.offsets = np.zeros(self.seeds.shape[0] + 1, dtype=np.int64)
        np.cumsum(self.nbuckets * _BUCKET, out=self.offsets[1:])

    # -- probe -------------------------------------------------------------
    @property
    def nblocks(self) -> int:
        return int(self.seeds.shape[0])

    @property
    def total_bits(self) -> int:
        return int(self.table.shape[0]) * self.fp_bits

    def fpr_bound(self) -> float:
        """P[any of the 2·_BUCKET candidate slots shows this fp]."""
        return 2.0 * _BUCKET / ((1 << self.fp_bits) - 1)

    def _locate(self, values):
        """(fp, abs bucket1 slots base, abs bucket2 slots base, valid)."""
        strings = _strings_of(values)
        n = len(strings)
        if n == 0 or self.nblocks == 0:
            z = np.empty(0, dtype=np.int64)
            return np.empty(0, dtype=np.uint32), z, z, np.zeros(0, dtype=bool)
        u = H.hash_strings(strings, 1)[:, 0]
        bsel = ((_splitmix64(u ^ _usalt(self.salt)) >> _U64(1)) % _U64(self.nblocks)).astype(
            np.int64
        )
        nb = self.nbuckets[bsel]
        valid = nb > 0
        nb_safe = np.where(valid, nb, 1)
        seeds = self.seeds[bsel].astype(np.uint64)
        m1 = _splitmix64(u ^ seeds)
        m2 = _splitmix64(m1)
        fpmax = _U64((1 << self.fp_bits) - 1)
        fp = (_U64(1) + m2 % fpmax).astype(np.uint32)
        i1 = (m1 % nb_safe.astype(np.uint64)).astype(np.int64)
        alt = (_splitmix64(fp.astype(np.uint64) * _FP_MIX) % nb_safe.astype(np.uint64)).astype(
            np.int64
        )
        i2 = i1 ^ alt
        base = self.offsets[bsel]
        return fp, base + i1 * _BUCKET, base + i2 * _BUCKET, valid

    def contains_batch(self, values) -> np.ndarray:
        fp, b1, b2, valid = self._locate(values)
        if fp.shape[0] == 0:
            return np.zeros(0, dtype=bool)
        t = self.table
        if t.shape[0] == 0:
            return np.zeros(fp.shape[0], dtype=bool)
        sl = np.arange(_BUCKET)
        # empty blocks (valid=False) may point past the table end —
        # clamp the gather, the valid mask zeroes the result anyway
        g1 = np.minimum(b1[:, None] + sl, t.shape[0] - 1)
        g2 = np.minimum(b2[:, None] + sl, t.shape[0] - 1)
        hit1 = (t[g1] == fp[:, None].astype(t.dtype)).any(axis=1)
        hit2 = (t[g2] == fp[:, None].astype(t.dtype)).any(axis=1)
        return (hit1 | hit2) & valid

    def delete_batch(self, values) -> int:
        """Remove ONE stored fingerprint per value; returns how many
        were removed.  Raises if any value's fingerprint is absent
        from both candidate buckets (deleting a never-inserted key is
        the paper's contract violation).  Deletions already applied
        before a raise REMAIN applied — the raise marks a bad delete
        REQUEST, not filter corruption.  Driver-side mutation —
        deletions are retractions, typically small next to the build."""
        fp, b1, b2, valid = self._locate(values)
        removed = 0
        t = self.table
        for k in range(fp.shape[0]):
            if not valid[k]:
                raise KeyError("delete of a key hashing to an empty block: never inserted")
            f = t.dtype.type(fp[k])
            done = False
            for base in (int(b1[k]), int(b2[k])):
                for s in range(_BUCKET):
                    if t[base + s] == f:
                        t[base + s] = 0
                        done = True
                        break
                if done:
                    break
            if not done:
                raise KeyError(
                    "delete of a key whose fingerprint is absent: never inserted "
                    "(or already deleted)"
                )
            removed += 1
        self.n_keys = max(0, self.n_keys - removed)
        return removed

    def metrics(self) -> dict:
        return {
            "nblocks": self.nblocks,
            "n_keys": self.n_keys,
            "bits_per_key": (self.total_bits / self.n_keys) if self.n_keys else 0.0,
            "load": (self.n_keys / self.table.shape[0]) if self.table.shape[0] else 0.0,
        }


def build_cuckoo_filter(
    df: DataFrame,
    col: str,
    *,
    fp_bits: int = 16,
    salt: int = 0,
    target_block_keys: int = 1 << 14,
    nblocks: int | None = None,
) -> CuckooFilter:
    """Distributed build (see module doc): one distinct shuffle, one
    12-byte-per-key (block, u) shuffle, one independent eviction-chain
    solve per block, nblocks small tables collected."""
    keys = df.select(F.col(col).alias("__key")).where(F.col("__key").isNotNull()).distinct()
    keys = keys.persist()
    try:
        n = keys.count()
        nb = int(nblocks) if nblocks else max(1, -(-n // target_block_keys))
        hashed = hashed_blocked_keys(keys, "__key", nblocks=nb, salt=salt)

        def solve(pdf):
            import pandas as pd

            b = int(pdf["block"].iloc[0])
            seed, nbk, tb = _build_block(
                pdf["u"].to_numpy().view(np.uint64), b, salt, fp_bits
            )
            return pd.DataFrame({"block": [b], "seed": [seed], "nbuckets": [nbk], "tbl": [tb]})

        rows = (
            hashed.groupBy("block")
            .applyInPandas(solve, "block int, seed long, nbuckets long, tbl binary")
            .collect()
        )
    finally:
        keys.unpersist()

    cf = CuckooFilter(fp_bits=fp_bits, salt=salt, n_keys=n)
    cf.seeds = np.zeros(nb, dtype=np.int64)
    cf.nbuckets = np.zeros(nb, dtype=np.int64)
    parts: list[bytes] = [b""] * nb
    for r in rows:
        cf.seeds[r["block"]] = r["seed"]
        cf.nbuckets[r["block"]] = r["nbuckets"]
        parts[r["block"]] = bytes(r["tbl"])
    dt = np.uint16 if fp_bits > 8 else np.uint8
    cf.table = np.frombuffer(b"".join(parts), dtype=dt).copy()
    cf._reoffset()
    return cf


def cuckoo_contains(spark, cf: CuckooFilter, col) -> "F.Column":
    """Broadcast-probe column (pure map, the bloom/xor probe plan)."""
    from ..functions.probe import _probe_udf

    return _probe_udf(spark, cf, "contains_batch", "boolean")(col)
