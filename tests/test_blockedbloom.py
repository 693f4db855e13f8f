"""BlockedBloomFilter: layout confinement, no false negatives, the
Putze analytic FPR gate, bit-exact merge/distributed-build laws, and
the reference-format guard."""

import hashlib

import numpy as np
import pytest

from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.bloom import BlockedBloomFilter, BloomFilter
from btl_bloomfilter_spark.params import blocked_fpr, fpr_num_inserted


def test_guards():
    with pytest.raises(ValueError):
        BlockedBloomFilter(1 << 16, 4, block_bits=100)  # not mult of 64
    with pytest.raises(ValueError):
        BlockedBloomFilter(1 << 16, 4, block_bits=0)
    with pytest.raises(ValueError):
        BlockedBloomFilter((1 << 16) + 64, 4, block_bits=512)  # m % B != 0


def test_no_false_negatives_whole_string_and_kgram():
    bf = BlockedBloomFilter(1 << 16, 4)
    keys = [f"key{i}" for i in range(3000)]
    bf.update(keys)
    assert bf.contains_batch(keys).all()
    kg = BlockedBloomFilter(1 << 18, 3, k=8)
    docs = [f"some rolling window text number {i} with tail" for i in range(400)]
    kg.update(docs)
    assert kg.contains_batch(docs).all()


def test_all_bits_confined_to_one_block():
    bf = BlockedBloomFilter(1 << 16, 5, block_bits=512)
    h = np.random.default_rng(3).integers(0, 2**63, (1000, 5), dtype=np.uint64)
    # NTE64 law: column 0 is the base; emulate with arbitrary matrices
    idx = bf._positions_matrix(h.copy())
    blocks = idx // 512
    assert (blocks == blocks[:, :1]).all()
    assert (idx < 1 << 16).all()


def test_observed_fpr_tracks_blocked_bound():
    n, m, h, B = 2000, 1 << 16, 4, 512
    bf = BlockedBloomFilter(m, h, block_bits=B)
    bf.update([f"key{i}" for i in range(n)])
    neg = [f"negative{i}" for i in range(60000)]
    obs = bf.contains_batch(neg).mean()
    bound = blocked_fpr(n, m, h, B)
    # binomial noise at 60k trials ~ 6e-5; allow 2x + slack
    assert obs <= 2.0 * bound + 3e-4
    assert bf.theoretical_fpr() == bound


def test_blocked_bound_exceeds_flat_and_converges():
    n, m, h = 100000, 1 << 20, 4
    flat = fpr_num_inserted(n, m, h)
    prev = None
    for B in (64, 512, 4096):
        b = blocked_fpr(n, m, h, B)
        assert b >= flat * 0.999
        if prev is not None:
            assert b <= prev  # penalty shrinks with B
        prev = b
    assert blocked_fpr(n, m, h, m) == pytest.approx(flat, rel=1e-3)
    assert blocked_fpr(0, m, h, 512) == 0.0


def test_merge_bit_exact_and_envelope_roundtrip():
    keys = [f"k{i}" for i in range(4000)]
    full = BlockedBloomFilter(1 << 16, 4)
    full.update(keys)
    a = BlockedBloomFilter(1 << 16, 4)
    a.update(keys[:2000])
    b = BlockedBloomFilter(1 << 16, 4)
    b.update(keys[2000:])
    assert (a.merge(b).bits == full.bits).all()
    rt = Sketch.deserialize(full.serialize())
    assert isinstance(rt, BlockedBloomFilter) and rt.block_bits == 512
    assert (rt.bits == full.bits).all()
    # incompatible with a flat filter of equal dims
    flat = BloomFilter(1 << 16, 4)
    with pytest.raises(ValueError):
        full.merge(flat)


def test_for_capacity_rounds_to_whole_blocks():
    bf = BlockedBloomFilter.for_capacity(10000, 0.01)
    assert bf.m_bits % bf.block_bits == 0
    assert bf.hash_num >= 1


def test_reference_bf_format_rejected(tmp_path):
    from btl_bloomfilter_spark.sources import bfio

    bf = BlockedBloomFilter(1 << 10, 3)
    bf.update(["x"])
    with pytest.raises(ValueError):
        bfio.save_bloom(bf, tmp_path / "b.bf")


@pytest.mark.spark
def test_distributed_build_bit_exact(spark):
    """build_sketch (sliced reduce-scatter path) over a blocked filter
    must equal the serial build bit for bit — the same law the flat
    filter is held to (north-rule merge associativity)."""
    from btl_bloomfilter_spark.plans.agg import build_sketch

    rows = [(f"turn text {i} {'x' * (i % 7)}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "text string").repartition(8)
    dist = build_sketch(
        df, "text", lambda: BlockedBloomFilter(1 << 18, 4)
    )
    serial = BlockedBloomFilter(1 << 18, 4)
    serial.update([r[0] for r in rows])
    assert isinstance(dist, BlockedBloomFilter)
    assert hashlib.sha1(dist.bits.tobytes()).hexdigest() == hashlib.sha1(
        serial.bits.tobytes()
    ).hexdigest()
    assert dist.n_entry == serial.n_entry
