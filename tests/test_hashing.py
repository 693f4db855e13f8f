"""Unit tests for the vectorized ntHash-style hasher (pure numpy).

Mirrors the reference's hashing laws: NTE64 fan-out golden values
(vendor/nthash.hpp:183-186,537-542) and rolling-window == recompute
equivalence (the O(1) slide of vendor/nthash.hpp:442-448 must agree
with the from-scratch fold of nthash.hpp:394-416).
"""

import numpy as np
import pytest

from btl_bloomfilter_spark.functions import hashing as H


def _naive_window_hash(data: bytes, start: int, k: int, seeds: np.ndarray) -> int:
    """From-scratch fold: XOR_{j} rol(seed[b[j]], k-1-j) — the reference
    base-hash structure, computed with Python ints."""
    h = 0
    for j in range(k):
        s = int(seeds[data[start + j]])
        r = (k - 1 - j) % 64
        h ^= ((s << r) | (s >> (64 - r))) & 0xFFFFFFFFFFFFFFFF if r else s
    return h


def _naive_nte64(h0: int, i: int, k: int) -> int:
    """Python-int port of the exact NTE64 law (nthash.hpp:537-542)."""
    M = 0xFFFFFFFFFFFFFFFF
    t = (h0 * ((i ^ (k * 0x90B45D39FB6DA1FA)) & M)) & M
    t ^= t >> 27
    return t


def test_nte64_golden():
    h0 = np.array([0x0123456789ABCDEF, 0xDEADBEEFCAFEF00D, 1, 0], dtype=np.uint64)
    out = H.nte64(h0, 5, k=4)
    assert out.shape == (4, 5)
    for r, base in enumerate(h0):
        assert int(out[r, 0]) == int(base)  # hVal[0] = bVal
        for i in range(1, 5):
            assert int(out[r, i]) == _naive_nte64(int(base), i, 4)


@pytest.mark.parametrize("k", [1, 2, 4, 7, 64, 65])
def test_rolling_matches_naive(k):
    rng = np.random.default_rng(42)
    strings = [
        bytes(rng.integers(0, 256, size=n, dtype=np.uint8)).decode("latin-1")
        for n in [0, 1, k - 1 if k > 1 else 3, k, k + 1, 3 * k + 5, 200]
    ]
    hashes, rows = H.window_hashes(*H.utf8_buffers(strings), k=k, num_hashes=1)
    seeds = H.seed_table()
    expect = []
    expect_rows = []
    for si, s in enumerate(strings):
        b = s.encode("latin-1")  # latin-1 round-trips bytes exactly
        data = s.encode("utf-8", "surrogatepass")
        assert data == bytes(np.frombuffer(data, np.uint8))
        for t in range(len(data) - k + 1):
            expect.append(_naive_window_hash(data, t, k, seeds))
            expect_rows.append(si)
    assert rows.tolist() == expect_rows
    assert [int(x) for x in hashes[:, 0]] == expect


def test_batching_independence():
    strings = ["hello world", "", "abcabcabc", "x"]
    k = 3
    all_h, all_r = H.window_hashes(*H.utf8_buffers(strings), k=k, num_hashes=3)
    for i, s in enumerate(strings):
        one_h, one_r = H.window_hashes(*H.utf8_buffers([s]), k=k, num_hashes=3)
        np.testing.assert_array_equal(all_h[all_r == i], one_h)


def test_windows_never_span_strings():
    # "ab"+"cd" must not produce the window "bc"
    h2, _ = H.window_hashes(*H.utf8_buffers(["ab", "cd"]), k=2, num_hashes=1)
    h1, _ = H.window_hashes(*H.utf8_buffers(["abcd"]), k=2, num_hashes=1)
    assert len(h2) == 2
    assert len(h1) == 3
    joint = set(int(x) for x in h1[:, 0])
    assert int(h2[0, 0]) in joint and int(h2[1, 0]) in joint
    # the boundary window of the concatenation is not in the split batch
    split = set(int(x) for x in h2[:, 0])
    assert len(joint - split) == 1


def test_hash_strings_batch_equals_single():
    strings = ["", "a", "ab", "hello", "hello", "hellp", "héllo ✓"]
    out = H.hash_strings(strings, num_hashes=4)
    assert out.shape == (7, 4)
    for i, s in enumerate(strings):
        np.testing.assert_array_equal(H.hash_strings([s], num_hashes=4)[0], out[i])
    assert int(out[3, 0]) == int(out[4, 0])  # equal strings equal hashes
    assert int(out[3, 0]) != int(out[5, 0])
    assert int(out[0, 0]) != int(out[1, 0])


def test_hash_tokens():
    h, r = H.hash_tokens([["a", "b", "c"], ["b", "c"], None, []], 2, num_hashes=2)
    assert r.tolist() == [0, 0, 1]
    # shared bigram ("b","c") hashes identically across rows
    np.testing.assert_array_equal(h[1], h[2])
    assert not np.array_equal(h[0], h[1])


def test_tokenize_buffers_matches_str_split():
    rows = [
        "hello world",
        "  leading and trailing  ",
        "tabs\tand\nnewlines\rhere",
        "",
        "single",
        "a  b   c",
        "",  # consecutive empty rows
        "end",
    ]
    buf, offsets = H._flatten_utf8(rows)
    starts, ends, tok_rows = H.tokenize_buffers(buf, offsets)
    got: dict[int, list[str]] = {}
    for s, e, r in zip(starts, ends, tok_rows):
        got.setdefault(int(r), []).append(bytes(buf[s:e]).decode())
    for i, row in enumerate(rows):
        assert got.get(i, []) == row.split(), (i, row)


def test_tokenize_never_spans_rows():
    # adjacent rows with no separator bytes between them in the flat
    # buffer must still produce separate tokens
    rows = ["abc", "def"]
    buf, offsets = H._flatten_utf8(rows)
    starts, ends, tok_rows = H.tokenize_buffers(buf, offsets)
    toks = [bytes(buf[s:e]).decode() for s, e in zip(starts, ends)]
    assert toks == ["abc", "def"] and tok_rows.tolist() == [0, 1]


def test_hash_spans_position_independent():
    # equal byte spans hash equal regardless of absolute offset
    buf, offsets = H._flatten_utf8(["xxtoken", "token"])
    h = H.hash_spans_from_buffers(
        buf, np.array([2, 7], dtype=np.int64), np.array([7, 12], dtype=np.int64), 3
    )
    np.testing.assert_array_equal(h[0], h[1])
    # and agrees with the whole-string hasher on the same bytes
    np.testing.assert_array_equal(h[0], H.hash_strings(["token"], 3)[0])


def test_hash_token_ngrams_fold():
    # rows: [a b c d], [b c d] — shared trigram (b,c,d) must agree
    th = H.hash_strings(["a", "b", "c", "d", "b", "c", "d"], 1)[:, 0]
    row_offs = np.array([0, 4, 7], dtype=np.int64)
    base, rows = H.hash_token_ngrams_from_hashes(th, row_offs, 3)
    assert rows.tolist() == [0, 0, 1]
    assert int(base[1]) == int(base[2])  # (b,c,d) in both rows
    assert int(base[0]) != int(base[1])
    # order sensitivity: (a,b,c) != (c,b,a)
    th2 = H.hash_strings(["c", "b", "a"], 1)[:, 0]
    base2, _ = H.hash_token_ngrams_from_hashes(th2, np.array([0, 3], dtype=np.int64), 3)
    assert int(base2[0]) != int(base[0])
    # windows never span rows: a 2-token and a 1-token row, n=2
    base3, rows3 = H.hash_token_ngrams_from_hashes(
        th[:3], np.array([0, 2, 3], dtype=np.int64), 2
    )
    assert rows3.tolist() == [0]


def _revcomp(s: str) -> str:
    m = {"A": "T", "T": "A", "C": "G", "G": "C"}
    return "".join(m.get(c, c) for c in reversed(s))


def test_canonical_hash_strand_symmetry():
    """NTC64 analog: a sequence and its reverse complement produce the
    same canonical hash per aligned window (window i ↔ window n-1-i),
    and the canonical base differs from forward-only somewhere."""
    seq = "ACGTTGCAATCGGCTAGCTTACGT"
    k = 9
    h1, _ = H.window_hashes(*H.utf8_buffers([seq]), k=k, num_hashes=3, canonical=True)
    h2, _ = H.window_hashes(*H.utf8_buffers([_revcomp(seq)]), k=k, num_hashes=3, canonical=True)
    n = len(seq) - k + 1
    for i in range(n):
        np.testing.assert_array_equal(h1[i], h2[n - 1 - i])
    hf, _ = H.window_hashes(*H.utf8_buffers([seq]), k=k, num_hashes=3)
    assert not np.array_equal(h1, hf)
    # position independence across a batch
    hb, rb = H.window_hashes(*H.utf8_buffers(["XX" + seq, seq]), k=k, num_hashes=1, canonical=True)
    np.testing.assert_array_equal(hb[rb == 0][2:], hb[rb == 1])


def test_canonical_bloom_end_to_end():
    """KmerBF canonical mode: reverse complements of inserted reads
    are fully contained; a forward-only filter misses them.  Arrow
    path is bit-identical to the pandas path."""
    import pyarrow as pa

    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    rng = np.random.default_rng(4)
    reads = ["".join(rng.choice(list("ACGT"), 40)) for _ in range(30)]
    rc = [_revcomp(r) for r in reads]
    canon = BloomFilter(1 << 16, 3, 11, canonical=True)
    canon.update(reads)
    assert canon.contains_batch(rc).all()
    fwd = BloomFilter(1 << 16, 3, 11)
    fwd.update(reads)
    assert not fwd.contains_batch(rc).any()
    canon_arrow = BloomFilter(1 << 16, 3, 11, canonical=True)
    canon_arrow.update_arrow(pa.array(reads, pa.string()))
    np.testing.assert_array_equal(canon_arrow.bits, canon.bits)
    np.testing.assert_array_equal(
        canon_arrow.contains_arrow(pa.array(rc, pa.string())), canon.contains_batch(rc)
    )
    # envelope round-trip keeps the mode
    from btl_bloomfilter_spark.operators.base import Sketch

    back = Sketch.deserialize(canon.serialize())
    assert back.canonical and back.contains_batch(rc).all()
    with pytest.raises(ValueError):
        BloomFilter(1 << 10, 1, 0, canonical=True)  # k required


def test_clz64():
    vals = np.array([0, 1, 2, 3, 2**63, 2**64 - 1, 2**32, 12345], dtype=np.uint64)
    out = H.clz64(vals)
    expect = [64 - int(v).bit_length() for v in vals.tolist()]
    assert out.tolist() == expect


def test_seed_table_deterministic():
    np.testing.assert_array_equal(H.seed_table(), H.seed_table())
    assert not np.array_equal(H.seed_table(0), H.seed_table(1))
    assert len(set(H.seed_table().tolist())) == 256


# One SHA-1 per window_hashes mode over a fixed batch (ACGT, ASCII,
# multibyte UTF-8 and empty rows; salted seed table), pinned from the
# separate per-mode kernels that the single fold replaced, so any moved
# byte of hashes, row ids or strand flags fails.
_PIN_BATCH = [
    "ACGTACGTTGCAATCGGCTAGCTTACGTNNacgt",
    "",
    "hello world, spaced seeds",
    "héllo ✓ naïve — ünïcödé 日本語テキスト",
    "",
    "GATTACA",
    "ab",
    "TTTTGGGGCCCCAAAAACGTACGTAGCTAGCTAGGATCCA",
]
_PIN_MODES = {
    "whole": (dict(k=0, num_hashes=3), "d6506bb0b6b104a832f7b9edcc26d645c5251495"),
    "kgram": (dict(k=5, num_hashes=3), "c8aba629ff91fdbc8c91bb80c2f7840357bf4e50"),
    "canonical": (dict(k=7, num_hashes=2, canonical=True), "4f3fbe8ba3a1536293c5eaaa09b9e4a3ed43e56b"),
    "canonical_strand": (
        dict(k=7, num_hashes=2, canonical=True, strand=True),
        "03c6d29106dab0a3581532ecf183eeb940b225c1",
    ),
    "spaced_1": (dict(k=4, num_hashes=1, spaced_seeds=["1101", "1011"]), "10854b5b519a48c312b1dd6bc3515fc004723742"),
    "spaced_2": (dict(k=4, num_hashes=2, spaced_seeds=["1101", "1011"]), "d1f7ae68504e4429646a67c5fed275be7c09dafe"),
    "canonical_spaced_strand": (
        dict(k=9, num_hashes=1, spaced_seeds=["110101011", "111000111"], canonical=True, strand=True),
        "bdc1c36904a1b93c07f66375b3d077557015b314",
    ),
}


@pytest.mark.parametrize("mode", sorted(_PIN_MODES))
def test_window_hashes_pinned_digest(mode):
    import hashlib

    kw, digest = _PIN_MODES[mode]
    out = H.window_hashes(*H.utf8_buffers(_PIN_BATCH), seeds=H.seed_table(7), **kw)
    assert all(a.shape[0] > 0 for a in out)
    assert hashlib.sha1(b"".join(np.ascontiguousarray(a).tobytes() for a in out)).hexdigest() == digest
