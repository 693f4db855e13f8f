"""Bloom filter tests.

Mirrors the reference's unit-test structure
(Tests/Unit/BloomFilterTests.cpp): insert→contains round trip,
save/load round trip, plus our distributed extensions: merge laws
(bit-identical OR across arbitrary partitionings, semantics of
BloomFilter.hpp:177-178), FPR vs the theoretical bound
(BloomFilter.hpp:425-429), and the Spark build path.
"""

import itertools

import numpy as np
import pytest

from btl_bloomfilter_spark import params as P
from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.sources import bfio


def _words(rng, n, vocab=None, prefix="w"):
    vocab = vocab or [f"{prefix}{i:04d}" for i in range(512)]
    return [" ".join(rng.choice(vocab, size=rng.integers(5, 40))) for _ in range(n)]


# ------------------------- reference-mirroring -------------------------


def test_insert_contains_roundtrip_kgram():
    """BloomFilterTests.cpp:86-95 analog: every inserted window found."""
    bf = BloomFilter(m_bits=1 << 20, hash_num=5, k=4)
    seq = ["ACGTAC"]  # windows: ACGT CGTA GTAC
    bf.update(seq)
    assert bf.n_entry == 3
    for w in ["ACGT", "CGTA", "GTAC"]:
        assert bf.contains_batch([w]).all()
    # never-inserted window almost surely absent at this occupancy
    assert not bf.contains_batch(["TTTT"]).any()


def test_insert_contains_whole_string():
    bf = BloomFilter(m_bits=1 << 16, hash_num=4, k=0)
    items = [f"item{i}" for i in range(1000)]
    bf.update(items)
    assert bf.contains_batch(items).all()  # no false negatives, ever
    neg = [f"zz{i}" for i in range(1000)]
    fp = bf.contains_batch(neg).mean()
    assert fp <= max(5 * bf.theoretical_fpr(), 0.01)


def test_no_false_negatives_random():
    rng = np.random.default_rng(42)
    docs = _words(rng, 300)
    bf = BloomFilter.for_capacity(n=100_000, fpr=1e-3, k=8)
    bf.update(docs)
    assert bf.contains_batch(docs).all()
    assert (bf.seen_fraction(docs) == 1.0).all()


def test_fpr_within_theoretical_bound():
    """fpr_bound fixture: observed FPR ≤ bound with slack (negative
    corpus from a disjoint 'zz' vocab, never inserted)."""
    rng = np.random.default_rng(42)
    bf = BloomFilter.for_capacity(n=50_000, fpr=0.01, k=0)
    items = [f"pos{i}" for i in range(50_000)]
    bf.update(items)
    neg = [f"zz{i}" for i in range(100_000)]
    observed = bf.contains_batch(neg).mean()
    bound = P.fpr_num_inserted(50_000, bf.m_bits, bf.hash_num)
    assert observed <= bound * 1.5 + 1e-4
    assert observed <= 0.01 * 1.5
    # observed-FPR estimator agrees with measured rate
    assert abs(bf.fpr() - observed) < 0.01


# ----------------------------- merge laws ------------------------------


def test_merge_bit_identical_any_partitioning():
    """merge_laws fixture: P-way OR-merge == serial build, bit-exact,
    under every merge order (associativity/commutativity)."""
    rng = np.random.default_rng(7)
    docs = _words(rng, 200)
    mk = lambda: BloomFilter(m_bits=1 << 16, hash_num=3, k=6)
    serial = mk()
    serial.update(docs)
    for parts in (1, 2, 7, 32):
        chunks = np.array_split(np.array(docs, dtype=object), parts)
        partials = []
        for c in chunks:
            s = mk()
            s.update(list(c))
            partials.append(s)
        for perm in itertools.permutations(range(min(parts, 4))):
            order = list(perm) + list(range(4, parts))
            acc = mk()
            for i in order:
                acc.merge(partials[i])
            for i in range(parts):
                if i not in order:
                    acc.merge(partials[i])
            np.testing.assert_array_equal(acc.bits, serial.bits)
            assert acc.n_entry == serial.n_entry


def test_union_intersect():
    a, b = (BloomFilter(1 << 14, 3, 0) for _ in range(2))
    xs = [f"a{i}" for i in range(500)]
    ys = [f"b{i}" for i in range(500)]
    both = [f"c{i}" for i in range(200)]
    a.update(xs + both)
    b.update(ys + both)
    u = BloomFilter(**a.params())
    u.bits = a.bits.copy()
    u.union(b)
    assert u.contains_batch(xs + ys + both).all()
    inter = a.intersect(b)
    assert inter.contains_batch(both).all()  # BF-intersection keeps true intersection
    assert inter.contains_batch(xs).mean() < 0.2  # most non-shared gone
    assert np.all((inter.bits & ~u.bits) == 0)


def test_incompatible_merge_raises():
    with pytest.raises(ValueError):
        BloomFilter(1 << 10, 3, 0).merge(BloomFilter(1 << 11, 3, 0))
    with pytest.raises(ValueError):
        BloomFilter(1 << 10, 3, 0).merge(BloomFilter(1 << 10, 4, 0))


# ------------------------- serialization / .bf -------------------------


def test_envelope_roundtrip():
    bf = BloomFilter(1 << 12, 4, 5, dfpr=0.01)
    bf.update(["hello world roundtrip"])
    back = Sketch.deserialize(bf.serialize())
    assert isinstance(back, BloomFilter)
    assert back.params() == bf.params()
    np.testing.assert_array_equal(back.bits, bf.bits)
    assert back.n_entry == bf.n_entry


def test_bf_file_roundtrip(tmp_path):
    """BloomFilterTests.cpp:97-144 analog + README.md format checks."""
    bf = BloomFilter(1 << 12, 4, 5, dfpr=0.01)
    bf.update(["the quick brown fox jumps over the lazy dog"])
    p = tmp_path / "test.bf"
    bfio.save_bloom(bf, p)
    raw = p.read_bytes()
    assert raw.startswith(b"[BTLBloomFilter_v1]")
    assert b"[HeaderEnd]\n" in raw
    header, payload = raw.split(b"[HeaderEnd]\n", 1)
    assert len(payload) == bf.m_bits // 8  # payload = sizeInBytes
    back = bfio.load_bloom(p)
    np.testing.assert_array_equal(back.bits, bf.bits)
    assert back.hash_num == 4 and back.k == 5 and back.m_bits == 1 << 12
    q = ["the quic", "ick brow"]
    np.testing.assert_array_equal(back.contains_batch(q), bf.contains_batch(q))


def test_bf_file_validation(tmp_path):
    p = tmp_path / "bad.bf"
    p.write_bytes(b"garbage no header")
    with pytest.raises(ValueError):
        bfio.read_bf(p)
    bfio.write_bf(p, "BTLBloomFilter_v1", {"BloomFilterSizeInBytes": 99}, b"short")
    with pytest.raises(ValueError):
        bfio.read_bf(p)


# --------------------------- Spark build path ---------------------------


@pytest.mark.spark
def test_distributed_build_bit_identical(spark):
    """The flagship law: Spark P-partition build == serial build."""
    from btl_bloomfilter_spark.plans.agg import build_sketch

    rng = np.random.default_rng(42)
    docs = _words(rng, 600)
    mk = lambda: BloomFilter(m_bits=1 << 18, hash_num=4, k=8)
    serial = mk()
    serial.update(docs)

    df = spark.createDataFrame([(d,) for d in docs], "text string")
    for parts in (3, 16):
        built = build_sketch(df, "text", mk, repartition=parts)
        np.testing.assert_array_equal(built.bits, serial.bits)
        assert built.n_entry == serial.n_entry
        assert built.t_entry == len(docs)


@pytest.mark.spark
def test_broadcast_probe_and_sql(spark):
    from btl_bloomfilter_spark.functions.probe import bloom_contains, bloom_seen_fraction, register_sql
    from btl_bloomfilter_spark.plans.agg import build_sketch

    rng = np.random.default_rng(1)
    pos = _words(rng, 150)
    neg = [" ".join(f"zz{int(x):04d}" for x in rng.integers(0, 512, 12)) for _ in range(150)]
    df = spark.createDataFrame([(d,) for d in pos], "text string")
    bf = build_sketch(df, "text", lambda: BloomFilter(1 << 18, 4, 8), repartition=4)

    probe_df = spark.createDataFrame([(d, True) for d in pos] + [(d, False) for d in neg], "text string, expected boolean")
    out = probe_df.select(
        "expected",
        bloom_contains(spark, bf, "text").alias("hit"),
        bloom_seen_fraction(spark, bf, "text").alias("frac"),
    ).toPandas()
    assert out[out.expected].hit.all()  # no false negatives
    assert (out[out.expected].frac == 1.0).all()
    assert out[~out.expected].frac.mean() < 0.5  # disjoint vocab mostly unseen

    register_sql(spark, "bf_seen_frac", bf, "seen_fraction", "double")
    probe_df.createOrReplaceTempView("probe_t")
    n = spark.sql("select count(*) c from probe_t where bf_seen_frac(text) = 1.0").collect()[0].c
    assert n >= len(pos)


@pytest.mark.spark
def test_checkpoint_resume(spark, tmp_path):
    """Resume fixture: second build with same params reuses persisted
    partials (source not rescanned → result equal even if source gone)."""
    from btl_bloomfilter_spark.plans.agg import build_sketch

    docs = [f"doc number {i} payload" for i in range(200)]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    mk = lambda: BloomFilter(1 << 14, 3, 0)
    ckpt = str(tmp_path / "ckpt")
    first = build_sketch(df, "text", mk, repartition=4, checkpoint_dir=ckpt, lineage="unit:v1")
    # different source now, same checkpoint params → must come from checkpoint
    df2 = spark.createDataFrame([("different",)], "text string")
    resumed = build_sketch(df2, "text", mk, repartition=4, checkpoint_dir=ckpt, lineage="unit:v1")
    np.testing.assert_array_equal(first.bits, resumed.bits)
    # changed lineage/params → rebuild happens
    rebuilt = build_sketch(df2, "text", mk, repartition=4, checkpoint_dir=str(tmp_path / "ckpt2"), lineage="unit:v2")
    assert rebuilt.t_entry == 1


def test_bf_file_roundtrip_preserves_hash_mode(tmp_path):
    """Spaced-seed and canonical filters must keep their hash mode
    through the .bf layout (extension fields; previously they silently
    reloaded as plain forward k-gram mode and probed the wrong bits)."""
    import numpy as np
    from btl_bloomfilter_spark.sources import bfio

    sp = BloomFilter(1 << 12, 2, spaced_seeds=["11011011", "10110111"])
    sp.update(["abcdefghij", "qrstuvwxyz"])
    p = tmp_path / "sp.bf"
    bfio.save_bloom(sp, p)
    back = bfio.load_bloom(p)
    assert back.spaced_seeds == sp.spaced_seeds
    np.testing.assert_array_equal(back.bits, sp.bits)
    np.testing.assert_array_equal(
        back.contains_batch(["abcdefghij", "zzzzzzzzzz"]),
        sp.contains_batch(["abcdefghij", "zzzzzzzzzz"]),
    )
    cn = BloomFilter(1 << 12, 3, 6, canonical=True)
    cn.update(["ACGTACGTACGT"])
    p2 = tmp_path / "cn.bf"
    bfio.save_bloom(cn, p2)
    back2 = bfio.load_bloom(p2)
    assert back2.canonical
    # RC probe only works if the canonical mode survived the round trip
    assert back2.contains_batch(["ACGTACGTACGT"]).all()


def test_estimate_cardinality_law():
    """Swamidass-Baldi fill inversion: within a few % across fill
    levels, exact at the expected-fill fixed point, inf when
    saturated."""
    import numpy as np

    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    rng = np.random.default_rng(7)
    for n in (500, 5000, 40000):
        bf = BloomFilter(1 << 20, 4, 0)
        items = [f"item{i:07d}" for i in range(n)]
        bf.update(items)
        est = bf.estimate_cardinality()
        assert abs(est - n) / n < 0.03, (n, est)
    # saturated filter -> inf
    bf = BloomFilter(64, 1, 0)
    bf.update([f"x{i}" for i in range(2000)])
    if bf.pop() == bf.m_bits:
        assert bf.estimate_cardinality() == float("inf")
