"""Property-based tests (hypothesis) for the core laws:
rolling-hash == from-scratch fold on arbitrary unicode, Bloom merge
associativity/commutativity on arbitrary partitionings, Bloom state
under any interleaving of inserts, merges, round-trips and slicing,
sizing-formula
invariants over the (n, fpr) grid (SURVEY §5 item 7), Misra-Gries
merge laws on arbitrary stream cuts and merge orders."""

import collections

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from btl_bloomfilter_spark import params as P
from btl_bloomfilter_spark.functions import hashing as H
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.bloom import BlockedBloomFilter, BloomFilter
from btl_bloomfilter_spark.operators.topk import MGSummary


def _naive_window_hash(data: bytes, start: int, k: int, seeds) -> int:
    h = 0
    for j in range(k):
        s = int(seeds[data[start + j]])
        r = (k - 1 - j) % 64
        h ^= ((s << r) | (s >> (64 - r))) & 0xFFFFFFFFFFFFFFFF if r else s
    return h


@settings(max_examples=40, deadline=None)
@given(
    strings=st.lists(st.text(max_size=60), min_size=1, max_size=8),
    k=st.integers(min_value=1, max_value=12),
)
def test_rolling_hash_matches_naive_any_unicode(strings, k):
    hashes, rows = H.window_hashes(*H.utf8_buffers(strings), k=k, num_hashes=1)
    seeds = H.seed_table()
    expect, erow = [], []
    for si, s in enumerate(strings):
        data = s.encode("utf-8", "surrogatepass")
        for t in range(len(data) - k + 1):
            expect.append(_naive_window_hash(data, t, k, seeds))
            erow.append(si)
    assert rows.tolist() == erow
    assert [int(x) for x in hashes[:, 0]] == expect


@settings(max_examples=25, deadline=None)
@given(
    items=st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=60),
    cuts=st.lists(st.integers(min_value=0, max_value=59), max_size=4),
    perm_seed=st.integers(min_value=0, max_value=1000),
)
def test_bloom_merge_partition_invariance(items, cuts, perm_seed):
    """Any partitioning + any merge order == serial build, bit-exact."""
    mk = lambda: BloomFilter(1 << 12, 3, 0)
    serial = mk()
    serial.update(items)
    bounds = sorted({0, len(items), *[c % (len(items) + 1) for c in cuts]})
    chunks = [items[a:b] for a, b in zip(bounds, bounds[1:]) if b > a] or [items]
    partials = []
    for c in chunks:
        p = mk()
        p.update(c)
        partials.append(p)
    order = np.random.default_rng(perm_seed).permutation(len(partials))
    acc = mk()
    for i in order:
        acc.merge(partials[i])
    np.testing.assert_array_equal(acc.bits, serial.bits)
    assert acc.n_entry == serial.n_entry


_BLOOM_BATCH = st.lists(st.text(alphabet="abcdefgh", max_size=24), max_size=30)
_BLOOM_OP = st.one_of(
    st.tuples(st.sampled_from(["update", "update_arrow", "merge", "bulk_merge"]), _BLOOM_BATCH),
    st.tuples(st.sampled_from(["roundtrip", "dense_read"]), st.none()),
    st.tuples(st.just("slices"), st.integers(min_value=1, max_value=9)),
)


@settings(max_examples=60, deadline=None)
@given(
    m_log=st.integers(min_value=8, max_value=14),
    k=st.sampled_from([0, 4]),
    blocked=st.booleans(),
    ops=st.lists(_BLOOM_OP, max_size=12),
)
def test_bloom_state_any_interleaving_equals_dense_reference(m_log, k, blocked, ops):
    """Pending positions, folds and both blob formats are invisible:
    any interleaving of update/update_arrow, merge, bulk merge,
    serialize round-trips, dense reads and state_slices →
    merge_slice_blobs → assemble_slices equals a bool-scatter
    reference bit for bit and in n_entry/t_entry, and the pending
    buffer never holds more than its cap after an update."""
    mk = (lambda: BlockedBloomFilter(1 << m_log, 3, k, block_bits=256)) if blocked else (
        lambda: BloomFilter(1 << m_log, 3, k)
    )
    bf, ref = mk(), np.zeros(1 << m_log, dtype=bool)
    n_entry = t_entry = 0
    for op, arg in ops:
        if op in ("update", "update_arrow", "merge", "bulk_merge"):
            hashes, _ = H.window_hashes(*H.utf8_buffers(arg), k=bf.k, num_hashes=bf.hash_num, seeds=bf._seeds)
            ref[bf._positions_matrix(hashes).ravel()] = True
            n_entry, t_entry = n_entry + hashes.shape[0], t_entry + len(arg)
        if op == "update":
            bf.update(arg)
        elif op == "update_arrow":
            bf.update_arrow(pa.array(arg, pa.string()))
        elif op in ("merge", "bulk_merge"):
            other = mk()
            other.update(arg)
            if op == "merge":
                bf.merge(other)
            else:
                bf = Sketch.merge_blobs([bf.serialize(), other.serialize()])
        elif op == "roundtrip":
            bf = Sketch.deserialize(bf.serialize())
        elif op == "dense_read":
            bf.bits
        else:
            slices = bf.state_slices(arg)
            merged = [bf.merge_slice_blobs(bf.params(), s, arg, [b]) for s, b in enumerate(slices)]
            bf = type(bf).assemble_slices(bf.params(), merged, bf.n_entry, bf.t_entry)
        assert bf._pend_n <= bf._pend_cap
    assert bf.pop() == int(ref.sum())
    np.testing.assert_array_equal(bf.bits, np.packbits(ref, bitorder="little"))
    assert (bf.n_entry, bf.t_entry) == (n_entry, t_entry)


@settings(max_examples=100, deadline=None)
@given(
    items=st.lists(st.sampled_from("abcdefgh"), max_size=80),
    k=st.integers(min_value=1, max_value=10),
    cuts=st.lists(st.integers(min_value=0, max_value=80), max_size=8),
    perm_seed=st.integers(min_value=0, max_value=1000),
    via_bytes=st.booleans(),
)
def test_mg_merge_laws_any_cut_any_order(items, k, cuts, perm_seed, via_bytes):
    """MGSummary partials cut anywhere and merged in any order (directly
    or through serialize/deserialize) keep the Misra-Gries laws."""
    bounds = sorted({0, len(items), *[c % (len(items) + 1) for c in cuts]})
    partials = []
    for a, b in zip(bounds, bounds[1:]):
        p = MGSummary(k)
        p.update(items[a:b])
        partials.append(Sketch.deserialize(p.serialize()) if via_bytes else p)
    acc = MGSummary(k)
    for i in np.random.default_rng(perm_seed).permutation(len(partials)):
        acc.merge(Sketch.deserialize(partials[i].serialize()) if via_bytes else partials[i])
    true = collections.Counter(items)
    n = len(items)
    assert acc.n == n and len(acc.counts) <= k
    slack = min(n // (k + 1), acc.subtracted)
    for item, c in true.items():
        assert acc.estimate(item) <= c <= acc.estimate(item) + slack
        if c > n // (k + 1):
            assert item in acc.counts
    if len(true) <= k:
        assert acc.counts == dict(true)


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(min_value=10, max_value=10**8),
    fpr=st.floats(min_value=1e-8, max_value=0.5),
)
def test_sizing_invariants(n, fpr):
    m, h = P.calc_optimal_size(n, fpr)
    assert m % 64 == 0 and m > 0 and h >= 1
    # at the chosen geometry the theoretical FPR meets the target
    assert P.fpr_num_inserted(n, m, h) <= fpr * 1.02
    # FPR is monotone in inserts
    assert P.fpr_num_inserted(n, m, h) >= P.fpr_num_inserted(max(n // 2, 1), m, h)


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
            max_size=40,
        ),
        max_size=12,
    )
)
def test_tokenize_buffers_matches_str_split_property(rows):
    """Vectorized tokenizer == str.split() for any unicode rows whose
    whitespace is ASCII (str.split also splits on unicode whitespace,
    which the byte tokenizer deliberately does not — normalize those
    out of the comparison)."""
    uni_ws = [c for c in set("".join(rows)) if c.isspace() and ord(c) > 127]
    for c in uni_ws:
        rows = [r.replace(c, "_") for r in rows]
    buf, offsets = H._flatten_utf8(rows)
    starts, ends, tok_rows = H.tokenize_buffers(buf, offsets)
    got: dict[int, list[str]] = {}
    for s, e, r in zip(starts, ends, tok_rows):
        got.setdefault(int(r), []).append(bytes(buf[s:e]).decode("utf-8", "surrogatepass"))
    for i, row in enumerate(rows):
        assert got.get(i, []) == row.split(), (i, row)


@settings(max_examples=100, deadline=None)
@given(
    toks=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=5), min_size=1, max_size=20),
    n=st.integers(min_value=1, max_value=4),
)
def test_token_ngram_fold_injective_on_position(toks, n):
    """Gram hashes depend only on the token-hash window content: the
    same token list hashed twice (different flat offsets) agrees."""
    th = H.hash_strings(toks + toks, 1)[:, 0]
    offs = np.array([0, len(toks), 2 * len(toks)], dtype=np.int64)
    base, rows = H.hash_token_ngrams_from_hashes(th, offs, n)
    a = base[rows == 0]
    b = base[rows == 1]
    np.testing.assert_array_equal(a, b)


@settings(max_examples=30, deadline=None)
@given(data=st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=1, max_size=50))
def test_nte64_matches_python_ints(data):
    arr = np.array(data, dtype=np.uint64)
    out = H.nte64(arr, 4, k=7)
    M = (1 << 64) - 1
    for r, base in enumerate(data):
        assert int(out[r, 0]) == base
        for i in range(1, 4):
            t = (base * ((i ^ (7 * 0x90B45D39FB6DA1FA)) & M)) & M
            t ^= t >> 27
            assert int(out[r, i]) == t


@settings(max_examples=25, deadline=None)
@given(
    p=st.integers(min_value=6, max_value=14),
    n_batches=st.integers(min_value=1, max_value=4),
    sizes=st.lists(st.integers(min_value=0, max_value=400), min_size=4, max_size=4),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_hll_sparse_dense_equivalence_property(p, n_batches, sizes, seed):
    """For ANY input partitioning and any merge order, the sparse
    representation must densify to EXACTLY the dense registers, and
    mixed-mode merges must equal the all-dense union."""
    from btl_bloomfilter_spark.operators.hll import HyperLogLog

    rng = np.random.default_rng(seed)
    parts = [
        [f"v{int(x)}" for x in rng.integers(0, 5000, size=s)] for s in sizes
    ]
    # serial dense reference
    ref = HyperLogLog(p=p)
    ref._densify()
    for part in parts:
        ref.update(part)
    # mixed: each partial sparse-held (cap lifted), merged in a shuffled order
    partials = []
    for part in parts:
        h = HyperLogLog(p=p)
        h._sparse_max = 10**9
        h.update(part)
        partials.append(h)
    order = rng.permutation(len(partials))
    acc = HyperLogLog(p=p)
    for i in order:
        acc.merge(partials[i])
    np.testing.assert_array_equal(acc.registers, ref.registers)


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31), k=st.integers(min_value=2, max_value=10))
def test_canonical_strand_flag_property(seed, k):
    """hStn law (nthash.hpp:712): strand is True exactly when the
    reverse-complement fold wins the canonical min, and the canonical
    hash set of a sequence equals that of its reverse complement."""
    rng = np.random.default_rng(seed)
    s = "".join(rng.choice(list("ACGT"), size=int(rng.integers(k, 50))))
    comp = {"A": "T", "T": "A", "C": "G", "G": "C"}
    rc = "".join(comp[c] for c in reversed(s))
    h1, r1, st1 = H.window_hashes(*H.utf8_buffers([s]), k=k, num_hashes=3, canonical=True, strand=True)
    h2, r2, st2 = H.window_hashes(*H.utf8_buffers([rc]), k=k, num_hashes=3, canonical=True, strand=True)
    # canonical invariance: same window hashes, reversed order
    np.testing.assert_array_equal(h1, h2[::-1])
    # strand law: st True ⇔ rc fold won STRICTLY (rev < fwd), so the
    # canonical base differs from the forward fold exactly when st set
    can1 = h1[:, 0]
    fwd = H.window_hashes(*H.utf8_buffers([s]), k=k, num_hashes=1)[0][:, 0]
    assert st1.shape == (h1.shape[0], 1)  # one hStn per frame
    np.testing.assert_array_equal(st1[:, 0], can1 != fwd)


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    radius=st.integers(min_value=4, max_value=11),
)
def test_blocked_simhash_ball_masks_complete(seed, radius):
    """Pure pigeonhole check on the mask enumeration (no Spark): for
    ANY pair of 64-bit values within the radius, some block has the
    anchor's value inside the probe's Hamming ball."""
    from btl_bloomfilter_spark.operators.dedup import _ball_masks

    rng = np.random.default_rng(seed)
    a = int(rng.integers(0, 2**63))
    flips = rng.choice(64, size=radius, replace=False)
    m = 0
    for f in flips:
        m |= 1 << int(f)
    b = a ^ m
    e = radius // 4
    masks = set(_ball_masks(16, e))
    found = False
    for blk in range(4):
        av = (a >> (16 * blk)) & 0xFFFF
        bv = (b >> (16 * blk)) & 0xFFFF
        if (av ^ bv) in masks:
            found = True
            break
    assert found


@settings(max_examples=40, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abcdef ", min_size=0, max_size=200), min_size=1, max_size=6),
    k=st.integers(min_value=2, max_value=12),
    w=st.integers(min_value=2, max_value=16),
)
def test_winnow_selection_laws_property(texts, k, w):
    """Winnowing laws on arbitrary inputs (SIGMOD'03 §2): (1) within a
    row with >= w window hashes, consecutive selections are <= w
    apart and strictly increasing; (2) every selected fingerprint
    equals the rolling hash at its position; (3) rows shorter than k
    select nothing, rows with >= 1 window select >= 1."""
    from btl_bloomfilter_spark.operators.dedup import _winnow_from_buffers

    seeds = H.seed_table(0)
    buf, offs = H._flatten_utf8(texts)
    rows, pos, fp = _winnow_from_buffers(buf, offs, k, w, seeds)
    all_h, all_rows = H.window_hashes(*H.utf8_buffers(texts), k=k, num_hashes=1)
    for si, s in enumerate(texts):
        data = s.encode("utf-8", "surrogatepass")
        nh = max(len(data) - k + 1, 0)
        p = pos[rows == si]
        if nh == 0:
            assert p.size == 0
            continue
        assert p.size >= 1
        assert (np.diff(p) > 0).all()
        if nh >= w:
            assert (np.diff(p) <= w).all()
        # selected fp == the rolling hash at that exact window
        row_h = all_h[all_rows == si, 0]
        np.testing.assert_array_equal(fp[rows == si], row_h[p])


@settings(max_examples=30, deadline=None)
@given(
    prefix_a=st.text(alphabet="xyz ", min_size=0, max_size=80),
    prefix_b=st.text(alphabet="uvw ", min_size=0, max_size=80),
    shared=st.text(alphabet="abcdef ", min_size=40, max_size=120),
)
def test_winnow_shared_span_anchor_property(prefix_a, prefix_b, shared):
    """The MOSS guarantee on arbitrary offsets: two documents sharing a
    substring of length >= w + k - 1 select at least one identical
    fingerprint at the same relative offset within the shared span
    (disjoint alphabets around it so only planted anchors count)."""
    from btl_bloomfilter_spark.operators.dedup import _winnow_from_buffers

    k, w = 8, 8
    a = prefix_a + shared
    b = prefix_b + shared + "uvu"
    seeds = H.seed_table(0)
    buf, offs = H._flatten_utf8([a, b])
    rows, pos, fp = _winnow_from_buffers(buf, offs, k, w, seeds)
    la, lb = len(prefix_a.encode()), len(prefix_b.encode())
    rel_a = {(int(p) - la, int(f)) for p, f in zip(pos[rows == 0], fp[rows == 0]) if p >= la}
    rel_b = {(int(p) - lb, int(f)) for p, f in zip(pos[rows == 1], fp[rows == 1]) if p >= lb}
    # at least one common (relative offset, fingerprint) anchor, fully
    # inside the shared region of BOTH docs
    ls = len(shared.encode())
    common = {
        (o, f) for (o, f) in (rel_a & rel_b) if 0 <= o <= ls - k
    }
    assert common, (len(a), len(b), ls)
