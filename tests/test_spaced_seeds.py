"""Spaced-seed hashing (stHashIterator/ssHashIterator analog)."""

import numpy as np
import pytest

from btl_bloomfilter_spark.functions import hashing as H


def _naive_spaced(data: bytes, start: int, pattern: str, seeds) -> int:
    h = 0
    k = len(pattern)
    for j, c in enumerate(pattern):
        if c == "1":
            s = int(seeds[data[start + j]])
            r = (k - 1 - j) % 64
            h ^= ((s << r) | (s >> (64 - r))) & 0xFFFFFFFFFFFFFFFF if r else s
    return h


def test_parse_seed():
    np.testing.assert_array_equal(H.parse_seed("110101"), [0, 1, 3, 5])
    with pytest.raises(ValueError):
        H.parse_seed("12")
    with pytest.raises(ValueError):
        H.parse_seed("")


def test_spaced_matches_naive():
    rng = np.random.default_rng(42)
    strings = ["".join(chr(c) for c in rng.integers(97, 123, n)) for n in (0, 5, 6, 7, 30)]
    pattern = "110101"
    hashes, rows = H.window_hashes(*H.utf8_buffers(strings), k=len(pattern), num_hashes=2, spaced_seeds=[pattern])
    seeds = H.seed_table()
    expect, erows = [], []
    for si, s in enumerate(strings):
        data = s.encode()
        for t in range(len(data) - len(pattern) + 1):
            expect.append(_naive_spaced(data, t, pattern, seeds))
            erows.append(si)
    assert rows.tolist() == erows
    assert [int(x) for x in hashes[:, 0]] == expect


def test_masked_positions_ignored():
    pattern = "101"
    a, _ = H.window_hashes(*H.utf8_buffers(["axc"]), k=3, num_hashes=1, spaced_seeds=[pattern])
    b, _ = H.window_hashes(*H.utf8_buffers(["ayc"]), k=3, num_hashes=1, spaced_seeds=[pattern])  # differs only at masked pos
    c, _ = H.window_hashes(*H.utf8_buffers(["azcq"]), k=3, num_hashes=1, spaced_seeds=[pattern])
    np.testing.assert_array_equal(a, b)
    assert int(a[0, 0]) == int(c[0, 0])
    # care-position change → different hash
    d, _ = H.window_hashes(*H.utf8_buffers(["bxc"]), k=3, num_hashes=1, spaced_seeds=[pattern])
    assert int(a[0, 0]) != int(d[0, 0])


def test_all_ones_equals_dense():
    strings = ["hello world", "spacedseed"]
    a, ra = H.window_hashes(*H.utf8_buffers(strings), k=5, num_hashes=3, spaced_seeds=["11111"])
    b, rb = H.window_hashes(*H.utf8_buffers(strings), k=5, num_hashes=3)
    np.testing.assert_array_equal(a, b)
    np.testing.assert_array_equal(ra, rb)
    # the canonical spaced fold is the canonical k-gram fold too:
    # hashes, rows and hStn alike
    dna = ["ACGTTGCAATCGGCTAGCTT", "", "GATTACAGATTACA", "héllo ACGT"]
    for k in (1, 5, 12):
        kw = dict(k=k, num_hashes=2, canonical=True, strand=True)
        spaced = H.window_hashes(*H.utf8_buffers(dna), spaced_seeds=["1" * k], **kw)
        dense = H.window_hashes(*H.utf8_buffers(dna), **kw)
        for x, y in zip(spaced, dense):
            np.testing.assert_array_equal(x, y)


def test_multi_seed_layout():
    strings = ["abcdefgh"]
    pats = ["1101", "1011"]
    h, rows = H.window_hashes(*H.utf8_buffers(strings), k=4, num_hashes=2, spaced_seeds=pats)
    assert h.shape == (5, 4)  # 5 windows, 2 seeds × 2 hashes
    h1, _ = H.window_hashes(*H.utf8_buffers(strings), k=4, num_hashes=2, spaced_seeds=pats[:1])
    h2, _ = H.window_hashes(*H.utf8_buffers(strings), k=4, num_hashes=2, spaced_seeds=pats[1:])
    np.testing.assert_array_equal(h[:, :2], h1)
    np.testing.assert_array_equal(h[:, 2:], h2)
    with pytest.raises(ValueError):
        H.window_hashes(*H.utf8_buffers(strings), k=0, num_hashes=1, spaced_seeds=["11", "111"])


# ---------------------------------------------------------------------------
# canonical spaced-seed mode (NTMS64 canonical, nthash.hpp:775-820)
# ---------------------------------------------------------------------------

_SYM = ["110101011", "111000111"]  # symmetric care sets
_COMP = {"A": "T", "T": "A", "C": "G", "G": "C"}


def _rc(s):
    return "".join(_COMP[c] for c in reversed(s))


def test_canonical_spaced_kernel_matches_naive_and_rc_invariant():
    import numpy as np
    from btl_bloomfilter_spark.functions import hashing as H

    rng = np.random.default_rng(9)
    seeds = H.seed_table()
    comp = H.DNA_COMPLEMENT

    def rol(x, r):
        r %= 64
        return ((x << r) | (x >> (64 - r))) & 0xFFFFFFFFFFFFFFFF

    for pattern in _SYM:
        k = len(pattern)
        care = [i for i, c in enumerate(pattern) if c == "1"]
        s = "".join(rng.choice(list("ACGT"), size=50))
        b = s.encode()
        h, rows, st = H.window_hashes(
            np.frombuffer(b, dtype=np.uint8), np.array([0, len(b)], dtype=np.int64),
            k=k, num_hashes=1, spaced_seeds=[pattern], canonical=True, strand=True,
        )
        for t in range(len(b) - k + 1):
            f = 0
            for j in care:
                f ^= rol(int(seeds[b[t + j]]), k - 1 - j)
            r = 0
            for i in care:
                r ^= rol(int(seeds[comp[b[t + k - 1 - i]]]), k - 1 - i)
            assert int(h[t, 0]) == min(f, r)
            assert bool(st[t, 0]) == (r < f)
        # strand neutrality: rc(s) yields the same hashes, reversed
        rcb = _rc(s).encode()
        h2, _, _ = H.window_hashes(
            np.frombuffer(rcb, dtype=np.uint8), np.array([0, len(rcb)], dtype=np.int64),
            k=k, num_hashes=1, spaced_seeds=[pattern], canonical=True, strand=True,
        )
        np.testing.assert_array_equal(h[:, 0], h2[::-1, 0])


def test_canonical_spaced_requires_symmetric_pattern():
    import pytest
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    with pytest.raises(ValueError, match="symmetric"):
        BloomFilter(1 << 12, 1, spaced_seeds=["110"], canonical=True)


_REFUSED = [
    (dict(hash_num=1, k=0, canonical=True), "requires k-gram"),
    (dict(hash_num=2, k=3, spaced_seeds=["101", "1101"]), "share one length"),
    (dict(hash_num=1, k=4, spaced_seeds=["101"]), "k must equal"),
    (dict(hash_num=3, k=3, spaced_seeds=["101", "111"]), "hash_num must equal"),
    (dict(hash_num=1, k=3, spaced_seeds=["110"], canonical=True), "symmetric"),
]


@pytest.mark.parametrize("kw,match", _REFUSED, ids=[m for _, m in _REFUSED])
def test_hash_mode_refused_by_every_sketch(kw, match):
    """One parameter check (hashing.check_hash_mode) serves BloomFilter,
    CountingBloomFilter, MIBloomFilter and window_hashes."""
    from btl_bloomfilter_spark.operators.bloom import BloomFilter
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.operators.mibf import MIBloomFilter

    for cls in (BloomFilter, CountingBloomFilter, MIBloomFilter):
        with pytest.raises(ValueError, match=match):
            cls(1 << 12, **kw)
    wkw = {k: v for k, v in kw.items() if k != "hash_num"}
    if match != "hash_num must equal":
        with pytest.raises(ValueError, match=match):
            H.window_hashes(*H.utf8_buffers(["ACGTACGT"]), num_hashes=1, **wkw)


def test_hash_mode_k_zero_and_strand():
    from btl_bloomfilter_spark.operators.bloom import BloomFilter
    from btl_bloomfilter_spark.operators.mibf import MIBloomFilter

    assert BloomFilter(1 << 12, 1, 0, spaced_seeds=["101"]).k == 3
    with pytest.raises(ValueError, match="k must equal"):
        MIBloomFilter(1 << 12, 1, 0, spaced_seeds=["101"])
    with pytest.raises(ValueError, match="requires canonical"):
        H.window_hashes(*H.utf8_buffers(["ACGTACGT"]), k=3, num_hashes=1, strand=True)


def test_canonical_spaced_bloom_rc_membership():
    """Canonical spaced Bloom: every inserted sequence AND its reverse
    complement are fully seen (the NTMS64-canonical law end to end),
    via both the pandas and Arrow update paths."""
    import numpy as np
    import pyarrow as pa
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    rng = np.random.default_rng(21)
    seqs = ["".join(rng.choice(list("ACGT"), size=40)) for _ in range(20)]
    a = BloomFilter(1 << 16, 2, spaced_seeds=_SYM, canonical=True)
    a.update(seqs)
    b = BloomFilter(1 << 16, 2, spaced_seeds=_SYM, canonical=True)
    b.update_arrow(pa.array(seqs, pa.string()))
    np.testing.assert_array_equal(a.bits, b.bits)
    assert a.contains_batch(seqs).all()
    assert a.contains_batch([_rc(s) for s in seqs]).all()
    assert a.seen_fraction_arrow(pa.array([_rc(s) for s in seqs])).min() == 1.0
    neg = ["".join(rng.choice(list("ACGT"), size=40)) for _ in range(20)]
    assert a.seen_fraction(neg).mean() < 0.5


def test_canonical_spaced_mibf_strand_build(spark):
    """Distributed strand build over a canonical SPACED miBF: per-seed
    strand values stored, RC reads classify to the same stripped id."""
    import numpy as np
    from btl_bloomfilter_spark.operators.mibf import (
        ID_MASK_STRAND,
        STRAND_BIT,
        build_mibf,
    )

    rng = np.random.default_rng(31)
    rows = []
    for ref in (1, 2):
        base = "".join(rng.choice(list("ACGT"), size=300))
        for _ in range(5):
            lo = int(rng.integers(0, 200))
            rows.append((base[lo : lo + 90], ref))
    df = spark.createDataFrame(rows, "text string, ref_id long").repartition(3)
    mibf = build_mibf(
        df, "text", "ref_id", m_bits=1 << 15, hash_num=2, k=9,
        spaced_seeds=_SYM, canonical=True, strand=True,
    )
    stored = mibf.data[mibf.data != 0]
    assert ((stored & STRAND_BIT) != 0).any() and ((stored & STRAND_BIT) == 0).any()
    ok = 0
    for text, ref in rows[:6]:
        for q in (text, _rc(text)):
            res = mibf.classify_full([q])[0]
            if res and int(res[0].id) & int(ID_MASK_STRAND) == ref:
                ok += 1
    assert ok >= 10  # >= 10/12 orientations
