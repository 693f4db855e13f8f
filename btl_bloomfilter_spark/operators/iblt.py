"""Invertible Bloom Lookup Table — set reconciliation between corpus
snapshots (Eppstein, Goodrich, Uyeda, Varghese, "What's the
Difference?", SIGCOMM 2011; IBLT: Goodrich & Mitzenmacher 2011).

The problem it solves at 100 TB: two sites (or two snapshots) hold
ALMOST the same key set and want the symmetric difference without
shipping or rescanning either corpus.  Each side summarizes its keys
into an IBLT sized for the EXPECTED DIFFERENCE d (a few·d cells,
independent of corpus size), the tables are subtracted cell-wise, and
peeling the few-MB result recovers exactly which key hashes differ
and on which side.  The full-corpus diff operator (operators/snapshot,
q80) answers the same question with a corpus-sized shuffle; this is
its sketch-sized companion, exact whenever the true difference fits
the table (and HONEST when it doesn't: decode reports incompleteness
rather than guessing — gated in q118, not assumed).

Cell structure: (count:int64, keysum:u64 XOR of key hashes,
checksum:u64 XOR of a splitmix fold of each key hash).  A key goes to
one cell in each of 3 disjoint segments (the xor filter's layout — 3
distinct cells per key by construction).  Insert adds (+1, ^u, ^c);
the SUBTRACT of two tables leaves exactly the difference keys with
±1-signed counts.  Peeling: a cell with count ±1 whose checksum
matches its keysum's fold holds exactly one key w.p. 1−2⁻⁶⁴ — recover
it, cancel it from its 3 cells, repeat.  With cells ≈ 1.5·d per
segment the 3-segment peel completes w.h.p. (same 2-core threshold
family as the xor build).

Sketch-protocol fit (why this one gets ``update``/``merge`` where
xor/cuckoo raise): every cell op is commutative and associative —
counts ADD, xors XOR — so update is order-independent and merge is a
true cell-wise reduction.  The distributed build is therefore the
library's STANDARD ``plans/agg.build_sketch`` partial-merge path
(map-side partials, blob-only shuffle, checkpoint/resume included);
nothing row-shaped moves after the first scan, and the exchanged
artifact is O(d), not O(corpus).
"""

from __future__ import annotations

import struct

import numpy as np

from ..functions import hashing as H
from ..functions.hashing import _splitmix64
from .base import Sketch
from ..functions.hashing import _strings_of

__all__ = ["IBLT", "iblt_diff"]

_U64 = np.uint64
_CHK = _U64(0xA5B85C5E198ED849)  # checksum fold constant


def _check_of(u: np.ndarray | np.uint64):
    return _splitmix64(u ^ _CHK)


class IBLT(Sketch):
    """seglen cells per segment × 3 segments.  Size for the EXPECTED
    symmetric difference: seglen ≈ 1.5 × d is the standard sizing."""

    def __init__(self, seglen: int = 256, salt: int = 0, n_keys: int = 0):
        if seglen < 1:
            raise ValueError("seglen must be >= 1")
        self.seglen = int(seglen)
        self.salt = int(salt)
        self.n_keys = int(n_keys)  # net inserted count (signed after subtract)
        c = 3 * self.seglen
        self.counts = np.zeros(c, dtype=np.int64)
        self.keysum = np.zeros(c, dtype=np.uint64)
        self.chksum = np.zeros(c, dtype=np.uint64)

    # -- positions -------------------------------------------------------
    def _positions(self, u: np.ndarray):
        m1 = _splitmix64(u ^ _U64(self.salt & 0xFFFFFFFFFFFFFFFF))
        m2 = _splitmix64(m1)
        m3 = _splitmix64(m2)
        s = _U64(self.seglen)
        h0 = (m1 % s).astype(np.int64)
        h1 = (m2 % s).astype(np.int64) + self.seglen
        h2 = (m3 % s).astype(np.int64) + 2 * self.seglen
        return h0, h1, h2

    def _apply(self, u: np.ndarray, sign: int) -> None:
        chk = _check_of(u)
        for h in self._positions(u):
            np.add.at(self.counts, h, sign)
            np.bitwise_xor.at(self.keysum, h, u)
            np.bitwise_xor.at(self.chksum, h, chk)
        self.n_keys += sign * int(u.shape[0])

    # -- Sketch protocol ---------------------------------------------------
    def update(self, values) -> None:
        strings = _strings_of(values)
        if not strings:
            return
        u = H.hash_strings(strings, 1)[:, 0]
        self._apply(u.astype(np.uint64), +1)

    def update_hashes(self, u: np.ndarray, sign: int = +1) -> None:
        if u.size:
            self._apply(u.astype(np.uint64), sign)

    def merge(self, other: "Sketch") -> "Sketch":
        self._require_compatible(other)
        self.counts += other.counts
        self.keysum ^= other.keysum
        self.chksum ^= other.chksum
        self.n_keys += other.n_keys
        return self

    def params(self) -> dict:
        # n_keys lives in state_bytes, NOT here: params() defines
        # merge compatibility (base.compatible) and two tables with
        # different contents must still merge/subtract
        return {"seglen": self.seglen, "salt": self.salt}

    def state_bytes(self) -> bytes:
        return (
            struct.pack("<q", self.n_keys)
            + self.counts.astype("<i8").tobytes()
            + self.keysum.astype("<u8").tobytes()
            + self.chksum.astype("<u8").tobytes()
        )

    def load_state(self, payload: bytes) -> None:
        (self.n_keys,) = struct.unpack_from("<q", payload)
        c = 3 * self.seglen
        self.counts = np.frombuffer(payload, dtype="<i8", count=c, offset=8).astype(np.int64)
        self.keysum = np.frombuffer(payload, dtype="<u8", count=c, offset=8 + 8 * c).astype(np.uint64)
        self.chksum = np.frombuffer(payload, dtype="<u8", count=c, offset=8 + 16 * c).astype(np.uint64)

    def metrics(self) -> dict:
        return {
            "cells": int(self.counts.shape[0]),
            "bytes": int(self.counts.shape[0]) * 24,
            "n_keys": self.n_keys,
        }

    # -- reconciliation ----------------------------------------------------
    def subtract(self, other: "IBLT") -> "IBLT":
        """self − other, cell-wise: the result encodes the symmetric
        difference with +1 keys only-in-self, −1 keys only-in-other."""
        self._require_compatible(other)
        out = IBLT(self.seglen, self.salt, self.n_keys - other.n_keys)
        out.counts = self.counts - other.counts
        out.keysum = self.keysum ^ other.keysum
        out.chksum = self.chksum ^ other.chksum
        return out

    def decode(self) -> tuple[list[int], list[int], bool]:
        """Peel a (subtracted) table.  Returns (hashes only in the
        left operand, hashes only in the right operand, complete).
        ``complete=False`` means the difference exceeded the table's
        capacity — the returned lists are a correct PARTIAL decode,
        never a guess (every returned hash passed the 64-bit
        checksum)."""
        counts = self.counts.copy()
        keysum = self.keysum.copy()
        chksum = self.chksum.copy()
        left: list[int] = []
        right: list[int] = []
        progress = True
        while progress:
            progress = False
            pure = np.flatnonzero(
                ((counts == 1) | (counts == -1))
                & (chksum == _check_of(keysum))
            )
            for cell in pure:
                sign = int(counts[cell])
                if sign not in (1, -1):
                    continue  # mutated by a cancellation earlier this sweep
                u = np.uint64(keysum[cell])
                if chksum[cell] != _check_of(u):
                    continue
                (left if sign > 0 else right).append(int(u))
                chk = _check_of(u)
                for h in self._positions(np.array([u], dtype=np.uint64)):
                    counts[h[0]] -= sign
                    keysum[h[0]] ^= u
                    chksum[h[0]] ^= chk
                progress = True
        complete = bool(
            np.all(counts == 0) and np.all(keysum == 0) and np.all(chksum == 0)
        )
        return left, right, complete


def iblt_diff(
    df_a, df_b, col: str, *, expected_diff: int, salt: int = 0, repartition: int | None = None
):
    """Distributed reconciliation: build one IBLT per side via the
    standard partial-merge path, subtract, decode.  Returns
    (only_in_a_hashes, only_in_b_hashes, complete, table) — map hashes
    back to rows by joining on functions/hashing.hash_strings of the
    key column (each side owns its keys; the sketch only needs to say
    WHICH)."""
    from ..plans.agg import build_sketch

    seglen = max(8, int(np.ceil(1.5 * expected_diff)))

    def mk():
        return IBLT(seglen=seglen, salt=salt)

    ta = build_sketch(df_a, col, mk, repartition=repartition)
    tb = build_sketch(df_b, col, mk, repartition=repartition)
    d = ta.subtract(tb)
    left, right, complete = d.decode()
    return left, right, complete, d
