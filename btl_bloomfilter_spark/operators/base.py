"""Mergeable-sketch protocol.

Every sketch in this library is an associative, commutative
accumulator with the shape the reference's shared-memory atomic
inserts imply (`BloomFilter.hpp:177-194`: N threads OR-ing into one
array ≡ N private arrays ORed afterwards):

    zero(params) → update(batch)* → serialize → [shuffle] →
    merge(a, b)* → finalize

That shape is exactly what Spark needs for a distributed build:
per-partition states via one ``mapInArrow`` kernel (Arrow batches, no
per-row Python) + a reduce-scatter or driver merge (plans/agg.py).
Subclasses must guarantee ``merge`` is associative+commutative and
``update`` order-independent (verified by tests/test_merge_laws.py
under partition permutations).
"""

from __future__ import annotations

import json
import struct
from abc import ABC, abstractmethod
from typing import Any

import numpy as np


class Sketch(ABC):
    """Driver/executor-side sketch state (numpy-backed)."""

    #: subclass registry for envelope deserialization
    _registry: dict[str, type["Sketch"]] = {}

    def __init_subclass__(cls, **kw):
        super().__init_subclass__(**kw)
        Sketch._registry[cls.__name__] = cls

    # -- accumulation ------------------------------------------------
    @abstractmethod
    def update(self, values) -> None:
        """Absorb a batch of values (pd.Series / np.ndarray / list; the
        hashing sketches also take Arrow string arrays, read zero-copy)."""

    @abstractmethod
    def merge(self, other: "Sketch") -> "Sketch":
        """In-place merge of an equal-parameter sketch; returns self."""

    def metrics(self) -> dict[str, Any]:
        """Fill/occupancy metrics logged per partition (north_rule)."""
        return {}

    # -- state transport ---------------------------------------------
    @abstractmethod
    def state_bytes(self) -> bytes:
        """Raw state payload (no params)."""

    @abstractmethod
    def load_state(self, payload: bytes) -> None: ...

    @abstractmethod
    def params(self) -> dict[str, Any]:
        """JSON-able constructor parameters."""

    def checkpoint_params(self) -> dict[str, Any]:
        """Parameters that define CHECKPOINT identity (plans/agg.py's
        resume gate).  Defaults to ``params()``; subclasses exclude
        realized per-instance entropy (e.g. KLL's auto-drawn seed) so
        a rerun with the same *requested* configuration matches the
        persisted partials instead of silently rebuilding."""
        return self.params()

    @classmethod
    def from_params(cls, p: dict[str, Any]) -> "Sketch":
        return cls(**p)

    # -- envelope: self-describing bytes -----------------------------
    def serialize(self) -> bytes:
        head = json.dumps(
            {"cls": type(self).__name__, "mod": type(self).__module__, "params": self.params()}
        ).encode()
        return struct.pack("<I", len(head)) + head + self.state_bytes()

    @staticmethod
    def peek(blob: bytes) -> tuple[type["Sketch"], dict, bytes]:
        """(subclass, params, state payload) without densifying."""
        (hlen,) = struct.unpack_from("<I", blob)
        head = json.loads(blob[4 : 4 + hlen])
        if head["cls"] not in Sketch._registry and head.get("mod"):
            # fresh worker process: subclass module not yet imported
            import importlib

            importlib.import_module(head["mod"])
        return Sketch._registry[head["cls"]], head["params"], blob[4 + hlen :]

    @staticmethod
    def deserialize(blob: bytes) -> "Sketch":
        cls, params, payload = Sketch.peek(blob)
        sk = cls.from_params(params)
        sk.load_state(payload)
        return sk

    @classmethod
    def bulk_merge(cls, payloads_params: list[tuple[dict, bytes]]) -> "Sketch":
        """Merge many serialized states at once.  Default: sequential
        deserialize+merge; subclasses override when a batched path is
        cheaper (e.g. BloomFilter's single-scatter sparse OR)."""
        sk = cls.from_params(payloads_params[0][0])
        sk.load_state(payloads_params[0][1])
        for params, payload in payloads_params[1:]:
            other = cls.from_params(params)
            other.load_state(payload)
            sk.merge(other)
        return sk

    # -- slice-parallel (reduce-scatter) merge support ----------------
    # Array-register sketches (Bloom, counting, CountSketch) can split
    # their state into contiguous ranges (``slice_bounds``): the merge
    # of slice s needs only slice s of every partial, so a single
    # groupBy(slice) stage merges with parallelism = n_slices instead of
    # one task — on a cluster the reduce bandwidth then scales with
    # executors (classic reduce-scatter), and the driver assembles only
    # the final state.  Counter arrays share one codec (below); Bloom
    # ships set-bit positions, so its sparse slices OR in sorted runs.

    def state_slices(self, n_slices: int) -> list[bytes] | None:
        """Split state into n_slices transportable slices, or None if
        this sketch doesn't support sliced merging."""
        return None

    @classmethod
    def merge_slice_blobs(cls, params: dict, slice_idx: int, n_slices: int, blobs: list[bytes]) -> bytes:
        raise NotImplementedError

    @classmethod
    def assemble_slices(
        cls, params: dict, slices: list[bytes], n_entry: int, t_entry: int
    ) -> "Sketch":
        raise NotImplementedError

    @staticmethod
    def merge_blobs(blobs: list[bytes]) -> "Sketch":
        """Merge serialized sketches, dispatching to the subclass's
        bulk path."""
        cls, _, _ = Sketch.peek(blobs[0])
        pp = []
        for b in blobs:
            c, params, payload = Sketch.peek(b)
            if c is not cls:
                raise ValueError(f"mixed sketch classes: {cls.__name__} vs {c.__name__}")
            pp.append((params, payload))
        return cls.bulk_merge(pp)

    def compatible(self, other: "Sketch") -> bool:
        return type(self) is type(other) and self.params() == other.params()

    def _require_compatible(self, other: "Sketch") -> None:
        if not self.compatible(other):
            raise ValueError(
                f"incompatible sketches: {type(self).__name__}{self.params()} "
                f"vs {type(other).__name__}{other.params()}"
            )


# -- counter-array slice codec: [fmt u8][body]; fmt 0 = the range's cells,
# fmt 1 = u32 indices relative to the range start + their nonzero cells


def slice_bounds(n_cells: int, n_slices: int) -> np.ndarray:
    """The n_slices + 1 bounds of equal contiguous ranges over n_cells."""
    per = (n_cells + n_slices - 1) // n_slices
    return np.minimum(np.arange(n_slices + 1, dtype=np.int64) * per, n_cells)


def cut_cells(cells: np.ndarray, n_slices: int) -> list[bytes]:
    """Slices of a flat cell array, each in the smaller format."""
    bounds = slice_bounds(cells.size, n_slices)
    out = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        chunk = cells[lo:hi]
        nz = np.flatnonzero(chunk)
        if nz.size * (4 + chunk.itemsize) < chunk.nbytes:
            out.append(b"\x01" + nz.astype(np.uint32).tobytes() + chunk[nz].tobytes())
        else:
            out.append(b"\x00" + chunk.tobytes())
    return out


def sum_cell_slices(n_cells: int, dtype, slice_idx: int, n_slices: int, blobs: list[bytes]) -> np.ndarray:
    """Cell-wise sum of every partial's range ``slice_idx``."""
    bounds = slice_bounds(n_cells, n_slices)
    size = int(bounds[slice_idx + 1] - bounds[slice_idx])
    acc = np.zeros(size, dtype)
    for b in blobs:
        fmt, body = b[:1], len(b) - 1
        n, rest = divmod(body, 4 + acc.itemsize)
        if fmt == b"\x00" and body == acc.nbytes:
            acc += np.frombuffer(b, dtype, offset=1)
        elif fmt == b"\x01" and not rest:
            idx = np.frombuffer(b, np.uint32, count=n, offset=1).astype(np.int64)
            if n and int(idx.max()) >= size:
                raise ValueError(f"counter slice index {int(idx.max())} outside a range of {size} cells")
            np.add.at(acc, idx, np.frombuffer(b, dtype, count=n, offset=1 + 4 * n))
        else:
            raise ValueError(f"counter slice of format {fmt!r} with {body} body bytes does not fit {size} cells")
    return acc

