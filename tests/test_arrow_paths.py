"""Every hashing sketch reads Arrow string arrays zero-copy and any
other sequence through ``_strings_of``; both must give the same state
and the same query results exactly — including nulls (also null slots
whose offsets span bytes), empties, multibyte UTF-8, and sliced/offset
arrays."""

import numpy as np
import pyarrow as pa
import pytest

from btl_bloomfilter_spark.functions import hashing as H
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.bloom import BlockedBloomFilter, BloomFilter
from btl_bloomfilter_spark.operators.counting import CountingBloomFilter, CountMinSketch
from btl_bloomfilter_spark.operators.countsketch import CountSketch
from btl_bloomfilter_spark.operators.hll import HyperLogLog
from btl_bloomfilter_spark.operators.theta import ThetaSketch

CORPUS = [
    "hello world",
    None,
    "",
    "ab",
    "héllo ✓ multibyte ütf8",
    "the quick brown fox jumps over the lazy dog " * 10,
] + [f"item number {i} with payload" for i in range(500)]


def _pairs():
    return [
        (lambda: BloomFilter(1 << 16, 4, 8), "bits"),
        (lambda: BloomFilter(1 << 16, 3, 0), "bits"),
        (lambda: CountingBloomFilter(9999, 3, 6), "counters"),
        (lambda: CountingBloomFilter(9999, 4, 0), "counters"),
        (lambda: CountMinSketch(512, 4), "table"),
        (lambda: HyperLogLog(p=10), "registers"),
        pytest.param(lambda: CountSketch(256, 5), "table", id="countsketch-table"),
        pytest.param(lambda: ThetaSketch(64), "_vals", id="theta-vals"),
        pytest.param(lambda: BlockedBloomFilter(1 << 16, 3, 6), "bits", id="blocked-bits"),
        pytest.param(lambda: BloomFilter(1 << 16, 3, 6, canonical=True), "bits", id="canonical-bits"),
        pytest.param(
            lambda: BloomFilter(1 << 16, 2, spaced_seeds=["1101011", "1011101"]), "bits", id="spaced-bits"
        ),
        pytest.param(
            lambda: CountingBloomFilter(9999, 3, 6, canonical=True), "counters", id="canonical-counters"
        ),
    ]


@pytest.mark.parametrize("mk,attr", _pairs())
def test_arrow_equals_pandas(mk, attr):
    a = mk()
    a.update(CORPUS)
    b = mk()
    b.update_arrow(pa.array(CORPUS, pa.string()))
    np.testing.assert_array_equal(getattr(a, attr), getattr(b, attr))
    assert getattr(a, "n_entry", 0) == getattr(b, "n_entry", 0)
    assert a.t_entry == b.t_entry


@pytest.mark.parametrize("mk,attr", _pairs())
def test_arrow_sliced_array(mk, attr):
    """Arrow arrays with a nonzero offset (sliced) must hash identically."""
    arr = pa.array(CORPUS, pa.string())
    sliced = arr.slice(3, 200)
    a = mk()
    a.update(CORPUS[3:203])
    b = mk()
    b.update_arrow(sliced)
    np.testing.assert_array_equal(getattr(a, attr), getattr(b, attr))


def test_arrow_large_string():
    arr = pa.array(CORPUS, pa.large_string())
    a = BloomFilter(1 << 16, 3, 5)
    a.update(CORPUS)
    b = BloomFilter(1 << 16, 3, 5)
    b.update_arrow(arr)
    np.testing.assert_array_equal(a.bits, b.bits)


def test_arrow_chunked():
    arr = pa.chunked_array([CORPUS[:100], CORPUS[100:]], pa.string())
    a = BloomFilter(1 << 16, 3, 5)
    a.update(CORPUS)
    b = BloomFilter(1 << 16, 3, 5)
    b.update_arrow(arr)
    np.testing.assert_array_equal(a.bits, b.bits)


def test_buffers_view_matches_flatten():
    arr = pa.array(["abc", None, "", "déf"], pa.string())
    buf, offsets, mask = H.arrow_utf8_buffers(arr)
    fbuf, foffsets = H._flatten_utf8(["abc", None, "", "déf"])
    np.testing.assert_array_equal(buf, fbuf)
    np.testing.assert_array_equal(offsets, foffsets)
    assert mask.tolist() == [False, True, False, False]


def _null_slots_with_bytes(values) -> pa.Array:
    """An Arrow string array whose null slots span non-empty bytes (legal
    Arrow: a null's offsets need not be equal)."""
    enc = [("NULL BYTES" if v is None else v).encode() for v in values]
    offsets = np.zeros(len(enc) + 1, np.int32)
    np.cumsum([len(e) for e in enc], out=offsets[1:])
    valid = np.array([v is not None for v in values])
    arr = pa.Array.from_buffers(
        pa.string(),
        len(values),
        [
            pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()),
            pa.py_buffer(offsets.tobytes()),
            pa.py_buffer(b"".join(enc)),
        ],
        null_count=int((~valid).sum()),
    )
    assert arr.to_pylist() == list(values)
    return arr


_QUERY_METHODS = ("seen_fraction", "contains_batch", "estimate_batch", "update_and_check")


@pytest.mark.parametrize(
    "mk",
    [
        lambda: BloomFilter(1 << 16, 3, 0),
        lambda: BloomFilter(1 << 16, 4, 8),
        lambda: CountingBloomFilter(9999, 3, 0),
        lambda: CountingBloomFilter(9999, 4, 6),
        lambda: CountMinSketch(512, 4),
        lambda: CountSketch(256, 5),
    ],
    ids=["bloom-k0", "bloom-k8", "counting-k0", "counting-k6", "cms", "countsketch"],
)
def test_queries_arrow_equal_list(mk):
    """update and every query method give the list result (nulls as
    None) for a plain Arrow array, a chunked one (whose nulls once
    reached the query methods as the string "None") and one whose null
    slots span bytes: those bytes never reach a hash."""
    prebuilt = mk()
    prebuilt.update(CORPUS[::3])
    inputs = [
        pa.array(CORPUS, pa.string()),
        pa.chunked_array([CORPUS[:100], CORPUS[100:]], pa.string()),
        _null_slots_with_bytes(CORPUS),
    ]
    for arr in inputs:
        a, b = mk(), mk()
        a.update(CORPUS)
        b.update(arr)
        assert a.serialize() == b.serialize()
    blob = prebuilt.serialize()
    for name in _QUERY_METHODS:
        if not hasattr(prebuilt, name):
            continue
        ref_sk = Sketch.deserialize(blob)
        ref = getattr(ref_sk, name)(CORPUS)
        for arr in inputs:
            sk = Sketch.deserialize(blob)
            np.testing.assert_array_equal(getattr(sk, name)(arr), ref, err_msg=name)
            assert sk.serialize() == ref_sk.serialize(), name


def _one_block_xor(keys):
    """A one-block XorFilter of ``keys``, solved locally by the block
    solver of the distributed build."""
    from btl_bloomfilter_spark.operators import xorfilter

    xf = xorfilter.XorFilter(fp_bits=16, n_keys=len(keys))
    seed, seglen, fps = xorfilter._build_block(H.hash_strings(keys, 1)[:, 0], 0, 0, 16)
    xf.seeds, xf.seglens = np.array([seed]), np.array([seglen])
    xf.fps = np.frombuffer(fps, dtype=np.uint16).copy()
    xf.offsets = np.array([0, 3 * seglen])
    return xf


def test_sequence_sketches_chunked_nulls_equal_list():
    """The sketches that read strings through ``_strings_of`` see a null
    of a chunked Arrow array as ``None`` → ``""``, exactly like the list
    (iterating a ChunkedArray yields Arrow scalars, whose null once read
    as the string "None").  XorFilter and CuckooFilter are static, so
    they are checked through ``contains_batch`` of a filter holding
    ``""``; IBLT through ``update``."""
    from btl_bloomfilter_spark.operators import cuckoo
    from btl_bloomfilter_spark.operators.iblt import IBLT

    values = ["a", None, "b", None, "c"]
    chunked = pa.chunked_array([values[:2], values[2:]], pa.string())
    keys = ["", "a", "b"] + [f"key {i}" for i in range(200)]
    # one-block filters of ``keys``, solved locally by the block solvers
    # of the distributed builds
    u = H.hash_strings(keys, 1)[:, 0]
    xf = _one_block_xor(keys)
    cf = cuckoo.CuckooFilter(fp_bits=16, n_keys=len(keys))
    seed, nbuckets, table = cuckoo._build_block(u, 0, 0, 16)
    cf.seeds, cf.nbuckets = np.array([seed]), np.array([nbuckets])
    cf.table = np.frombuffer(table, dtype=np.uint16).copy()
    cf._reoffset()
    for sk in (xf, cf):
        expect = sk.contains_batch(values)
        assert expect[:4].all()
        np.testing.assert_array_equal(sk.contains_batch(chunked), expect)
    a, b = IBLT(), IBLT()
    a.update(values)
    b.update(chunked)
    assert a.serialize() == b.serialize()


BYTES = [b"abc", None, b"", "h\u00e9llo \u2713".encode(), b"the quick brown fox"]
DECODED = [None if b is None else b.decode() for b in BYTES]


@pytest.mark.parametrize(
    "mk",
    [
        lambda: BloomFilter(1 << 12, 2, 0),
        lambda: BloomFilter(1 << 12, 2, 3),
        lambda: HyperLogLog(p=10),
        lambda: CountMinSketch(512, 4),
    ],
    ids=["bloom-k0", "bloom-k3", "hll", "cms"],
)
def test_bytes_hash_as_their_decoded_strings(mk):
    """``bytes`` values (a list, a ``bytearray``, an Arrow ``binary``
    array with a null) are hashed as their raw bytes, i.e. like the
    strings they decode to — never as their repr ``"b'abc'"``."""
    want = mk()
    want.update(DECODED)
    for values in (BYTES, [bytearray(b) if b else b for b in BYTES], pa.array(BYTES, pa.binary())):
        got = mk()
        got.update(values)
        assert got.serialize() == want.serialize()


def test_bytes_probe_a_xor_filter_as_their_decoded_strings():
    """XorFilter is static (no ``update``): a filter holding the decoded
    strings answers a bytes list and an Arrow ``binary`` array like the
    strings."""
    xf = _one_block_xor([d for d in DECODED if d] + [f"key {i}" for i in range(200)])
    expect = xf.contains_batch(DECODED)
    assert expect[[0, 3, 4]].all()
    for values in (BYTES, pa.array(BYTES, pa.binary())):
        np.testing.assert_array_equal(xf.contains_batch(values), expect)
