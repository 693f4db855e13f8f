"""Pending-position buffer vs packed bits, and both serialization
formats (dense vs sparse), must be bit-identical — when the buffer
folds and which format a blob picks are performance choices, never
semantic.  Corrupt payloads raise instead of loading silently."""

import numpy as np
import pytest

from btl_bloomfilter_spark.functions import hashing as H
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.bloom import BloomFilter, BlockedBloomFilter

DOCS = [f"document number {i} with some payload text" for i in range(500)]


def _batches():
    # 60-doc batches overflow the buffer cap of a 2^16-bit filter; the
    # last, one-doc batch stays queued after the final fold
    return [DOCS[i : i + 60] for i in range(0, len(DOCS), 60)] + [DOCS[:100], DOCS[7:8]]


def _dense_reference(mk, batches) -> np.ndarray:
    """Packed bits from a plain bool scatter of every hashed position."""
    bf = mk()
    acc = np.zeros(bf.m_bits, dtype=bool)
    for b in batches:
        hashes, _ = H.window_hashes(*H.utf8_buffers(b), k=bf.k, num_hashes=bf.hash_num, seeds=bf._seeds)
        acc[bf._positions_matrix(hashes).ravel()] = True
    return np.packbits(acc, bitorder="little")


@pytest.mark.parametrize(
    "mk",
    [lambda: BloomFilter(1 << 16, 3, 8), lambda: BlockedBloomFilter(1 << 16, 3, 8, block_bits=512)],
    ids=["flat", "blocked"],
)
def test_folds_mid_stream_equal_all_pending_build(mk):
    """A small m folds the buffer several times mid-stream; the result
    equals a build whose buffer never folds and a dense reference."""
    folding, pending = mk(), mk()
    pending._pend_cap = 1 << 40  # never folds before a dense reader asks
    folds = []
    fold = folding._fold
    folding._fold = lambda pos: (folds.append(pos.size), fold(pos))
    for b in _batches():
        folding.update(b)
        pending.update(b)
        assert folding._pend_n <= folding._pend_cap
    assert len(folds) >= 5 and folding._dense and folding._pend_n > 0
    assert not pending._dense
    ref = _dense_reference(mk, _batches())
    assert pending.pop() == int(np.unpackbits(ref).sum())
    for bf in (folding, pending):
        # slices and blobs before any dense read, then after it
        merged = [
            bf.merge_slice_blobs(bf.params(), s, 7, [blob]) for s, blob in enumerate(bf.state_slices(7))
        ]
        np.testing.assert_array_equal(np.frombuffer(b"".join(merged), np.uint8), ref)
        np.testing.assert_array_equal(Sketch.deserialize(bf.serialize()).bits, ref)
        np.testing.assert_array_equal(bf.bits, ref)
        assert bf.n_entry == folding.n_entry


def test_buffer_bounded_by_cap_over_many_updates():
    bf = BloomFilter(1 << 12, 4, 6)
    rng = np.random.default_rng(3)
    for i in range(40):
        bf.update([f"w{int(x)}-{i}" for x in rng.integers(0, 10**6, size=int(rng.integers(1, 200)))])
        assert bf._pend_n <= bf._pend_cap == (1 << 12) // 32
        assert sum(p.size for p in bf._pend) == bf._pend_n


def test_sparse_and_dense_blob_roundtrip_identical():
    bf = BloomFilter(1 << 22, 3, 0)
    bf.update([f"item{i}" for i in range(2000)])  # low fill → sparse fmt
    sparse_blob = bf.serialize()
    assert sparse_blob[4 + int.from_bytes(sparse_blob[:4], "little") + 16] == 1
    back = Sketch.deserialize(sparse_blob)
    np.testing.assert_array_equal(back.bits, bf.bits)

    # force dense by filling heavily
    dense = BloomFilter(1 << 10, 2, 0)
    dense.update([f"x{i}" for i in range(5000)])
    blob = dense.serialize()
    hlen = int.from_bytes(blob[:4], "little")
    assert blob[4 + hlen + 16] == 0  # fmt byte: dense
    back2 = Sketch.deserialize(blob)
    np.testing.assert_array_equal(back2.bits, dense.bits)


def test_sparse_u64_format_large_m():
    bf = BloomFilter(1 << 33, 2, 0)
    bf.update([f"item{i}" for i in range(200)])
    assert bf._pend[0].dtype == np.uint64 and not bf._dense
    blob = bf.serialize()
    hlen = int.from_bytes(blob[:4], "little")
    assert blob[4 + hlen + 16] == 2  # fmt byte: sparse u64
    back = Sketch.deserialize(blob)
    assert back.contains_batch([f"item{i}" for i in range(200)]).all()
    assert back.pop() == bf.pop()


# -- corrupt payloads ------------------------------------------------------


def _payload(fmt: int, body: bytes) -> bytes:
    return np.array([1, 1], dtype=np.uint64).tobytes() + bytes([fmt]) + body


def test_load_state_rejects_unknown_format_byte():
    with pytest.raises(ValueError, match="format byte 3"):
        BloomFilter(1 << 10, 2, 0).load_state(_payload(3, np.arange(4, dtype=np.uint64).tobytes()))


def test_load_state_rejects_position_beyond_m():
    with pytest.raises(ValueError, match="bit position 1024"):
        BloomFilter(1 << 10, 2, 0).load_state(_payload(1, np.array([5, 1024], np.uint32).tobytes()))


def test_bulk_merge_rejects_unknown_format_byte():
    params = BloomFilter(1 << 10, 2, 0).params()
    good = BloomFilter(1 << 10, 2, 0).state_bytes()
    with pytest.raises(ValueError, match="format byte 7"):
        BloomFilter.bulk_merge([(params, good), (params, _payload(7, b""))])


def test_bulk_merge_rejects_position_beyond_m():
    params = BloomFilter(1 << 10, 2, 0).params()
    with pytest.raises(ValueError, match="bit position 5000"):
        BloomFilter.bulk_merge([(params, _payload(2, np.array([5000], np.uint64).tobytes()))])


def test_merge_slice_blobs_rejects_unknown_format_byte():
    bf = BloomFilter(1 << 10, 2, 0)
    with pytest.raises(ValueError, match="format byte 2"):
        BloomFilter.merge_slice_blobs(bf.params(), 0, 4, [b"\x01", b"\x02" + bytes(4)])


def test_merge_slice_blobs_rejects_position_beyond_slice():
    bf = BloomFilter(1 << 10, 2, 0)  # 4 slices of 32 bytes = 256 bits
    with pytest.raises(ValueError, match="outside the slice"):
        BloomFilter.merge_slice_blobs(bf.params(), 1, 4, [b"\x01" + np.array([3, 256], np.uint32).tobytes()])
