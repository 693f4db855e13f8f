"""miBF classification tests (MIBloomFilter.hpp family analog)."""

import numpy as np
import pytest

from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.mibf import MIBloomFilter, build_mibf, ID_MASK


def _refs(rng, n_refs=6, docs_per_ref=25):
    """Reference corpora with distinct per-ref vocabularies (plus some
    shared words to exercise collisions)."""
    rows = []
    shared = [f"shared{i:02d}" for i in range(40)]
    for ref in range(1, n_refs + 1):
        vocab = [f"ref{ref}tok{i:03d}" for i in range(150)] + shared
        for _ in range(docs_per_ref):
            rows.append((" ".join(rng.choice(vocab, size=rng.integers(20, 40))), ref))
    return rows


@pytest.fixture(scope="module")
def mibf_setup(spark):
    rng = np.random.default_rng(42)
    rows = _refs(rng)
    df = spark.createDataFrame(rows, "text string, ref_id long").repartition(6).cache()
    mibf = build_mibf(df, "text", "ref_id", m_bits=1 << 18, hash_num=3, k=10)
    return df, mibf, rows


@pytest.mark.spark
def test_rank_machinery(mibf_setup):
    _, mibf, _ = mibf_setup
    # rank of position == cumulative popcount before it
    bits = np.unpackbits(mibf.bits, bitorder="little")
    set_pos = np.flatnonzero(bits)[:500].astype(np.uint64)
    expect = np.cumsum(bits)[set_pos.astype(np.int64)] - 1
    got = mibf.rank_pos(set_pos[:, None])[:, 0]
    np.testing.assert_array_equal(got, expect)
    assert mibf.data.size == int(bits.sum())


@pytest.mark.spark
def test_classification_accuracy(spark, mibf_setup):
    df, mibf, rows = mibf_setup
    texts = [t for t, _ in rows]
    truth = np.array([r for _, r in rows])
    out = mibf.classify_batch(texts)
    acc = (out.best_id.to_numpy() == truth).mean()
    assert acc >= 0.95, acc  # distinct vocabularies → near-perfect
    assert (out.total_frames > 0).all()
    # unseen queries (disjoint alphabet) classify as nothing
    neg = ["zzz yyy xxx www vvv uuu qqq ppp"] * 5
    nout = mibf.classify_batch(neg)
    assert (nout.frames == 0).all()


@pytest.mark.spark
def test_id_counts_and_saturation(mibf_setup):
    _, mibf, _ = mibf_setup
    counts = mibf.get_id_counts()
    assert set(counts) <= set(range(1, 7))
    assert len(counts) == 6
    assert sum(counts.values()) == mibf.pop_non_zero()
    # some slots will be saturated (shared vocab loses races)
    assert 0 <= mibf.pop_saturated() < mibf.data.size


@pytest.mark.spark
def test_deterministic_rebuild(spark, mibf_setup):
    """Same input, different partitioning → identical miBF (the
    deterministic reservoir replaces the reference's admitted
    run-to-run nondeterminism, MIBloomFilter.hpp:92-93)."""
    df, mibf, _ = mibf_setup
    rebuilt = build_mibf(df.repartition(3), "text", "ref_id", m_bits=1 << 18, hash_num=3, k=10)
    np.testing.assert_array_equal(rebuilt.bits, mibf.bits)
    np.testing.assert_array_equal(rebuilt.data, mibf.data)


@pytest.mark.spark
def test_classify_full_pipeline(mibf_setup):
    """Q10-Q13 integration: full CountResult tallies + stat-tie
    summarization agree with the simple classifier on clear cases."""
    _, mibf, rows = mibf_setup
    texts = [t for t, _ in rows[:60]]
    truth = [r for _, r in rows[:60]]
    simple = mibf.classify_batch(texts)
    full = mibf.classify_full(texts)
    agree = hits = 0
    for i, res in enumerate(full):
        assert isinstance(res, list)
        if res:
            hits += 1
            # counts are internally consistent
            top = res[0]
            assert top.count >= top.solidCount >= 0
            assert top.totalCount >= top.count
            assert top.totalNonSatCount <= top.totalCount
            if top.id == simple.best_id[i]:
                agree += 1
            assert top.id == truth[i] or len(res) > 1
    assert hits >= 55
    assert agree / hits > 0.9
    # unseen text → empty result
    assert mibf.classify_full(["zz yy xx ww vv uu tt ss"]) == [[]]


@pytest.mark.spark
def test_repair_reduces_saturation_and_keeps_invariant(spark, mibf_setup):
    """setSatIfMissing analog (MIBFConstructSupport.hpp:168-214): the
    mutate-before-saturate pass must never saturate MORE than the
    plain pass, and both must keep the construction invariant —
    every inserted element's every frame either carries the element's
    ID at one of its h slots or is saturated at all of them."""
    df, mibf_rep, rows = mibf_setup
    mibf_plain = build_mibf(df, "text", "ref_id", m_bits=1 << 18, hash_num=3, k=10, repair=False)
    assert mibf_rep.pop_saturated() <= mibf_plain.pop_saturated()

    for mibf in (mibf_rep, mibf_plain):
        hashes, rws = mibf._windows([t for t, _ in rows])
        _, idx = mibf._probe(hashes)
        rpos = mibf.rank_pos(idx)
        words = mibf.data[rpos]
        stored = (words & ID_MASK).astype(np.int64)
        ids = np.array([r for _, r in rows])[rws]
        found = (stored == ids[:, None]).any(axis=1)
        saturated = ((words & np.uint32(1 << 31)) != 0).all(axis=1)
        assert (found | saturated).all()


@pytest.mark.spark
def test_with_classification_matches_driver_classify(spark, mibf_setup):
    """Distributed broadcast classification == driver classify_batch."""
    from btl_bloomfilter_spark.operators.mibf import with_classification

    df, mibf, rows = mibf_setup
    got = (
        with_classification(df, mibf, "text")
        .select("text", "ref_id", "best_id", "frames", "total_frames")
        .toPandas()
        .sort_values("text")
        .reset_index(drop=True)
    )
    want = mibf.classify_batch(got["text"])
    np.testing.assert_array_equal(got["best_id"].to_numpy(), want["best_id"].to_numpy())
    np.testing.assert_array_equal(got["frames"].to_numpy(), want["frames"].to_numpy())
    np.testing.assert_array_equal(got["total_frames"].to_numpy(), want["total_frames"].to_numpy())


@pytest.mark.spark
def test_with_classification_full_matches_driver(spark, mibf_setup):
    """Distributed full=True pipeline == driver classify_full on the
    same corpus, field for field (the reference-grade query path at
    scale: stat-tie filter + 7-key sort + best-hit veto per batch)."""
    from btl_bloomfilter_spark.operators.mibf import with_classification
    from btl_bloomfilter_spark.operators.mibf_query import calc_frame_probs

    df, mibf, rows = mibf_setup
    got = (
        with_classification(df, mibf, "text", full=True, min_count=2, extra_count=1.5)
        .toPandas()
        .sort_values("text")
        .reset_index(drop=True)
    )
    fp, _ = calc_frame_probs(mibf)
    want = mibf.classify_full(
        list(got["text"]), min_count=2, extra_count=1.5, frame_probs=fp
    )
    w_best = [lst[0] if lst else None for lst in want]
    np.testing.assert_array_equal(
        got["best_id"].to_numpy(), np.array([r.id if r else -1 for r in w_best])
    )
    for col, attr in [
        ("count", "count"),
        ("solid_count", "solidCount"),
        ("non_sat_count", "nonSatCount"),
        ("non_sat_frame_count", "nonSatFrameCount"),
        ("total_count", "totalCount"),
        ("total_non_sat_count", "totalNonSatCount"),
    ]:
        np.testing.assert_array_equal(
            got[col].to_numpy(), np.array([getattr(r, attr) if r else 0 for r in w_best]), err_msg=col
        )
    np.testing.assert_allclose(
        got["frame_prob"].to_numpy(), np.array([r.frameProb if r else 0.0 for r in w_best])
    )
    np.testing.assert_array_equal(
        got["n_candidates"].to_numpy(), np.array([len(lst) for lst in want])
    )
    # the pipeline actually classified: accuracy against planted refs
    truth = {t: r for t, r in rows}
    ok = (got["best_id"].to_numpy() == np.array([truth[t] for t in got["text"]])).mean()
    assert ok >= 0.9, ok


def _online_mibf(m_bits=1 << 14, h=3, k=4, texts=("abcdefgh", "ijklmnop")):
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    bf = BloomFilter(m_bits, h, k)
    bf.update(list(texts))
    mibf = MIBloomFilter(m_bits, h, k)
    mibf.freeze(bf.bits.copy())
    return mibf


def test_online_insert_semantics():
    """Port of the reference online insert (MIBloomFilter.hpp:375-438):
    claim-if-empty in hash-seeded order, found-in-place short-circuit,
    saturation fallback returning False."""
    mibf = _online_mibf()
    frame = mibf._windows(["abcdefgh"])[0][0]  # first window's h hashes
    assert mibf.insert_online(frame, 7, 1) is True
    snap = mibf.data.copy()
    # idempotent: the value is found, nothing is rewritten
    assert mibf.insert_online(frame, 7, 1) is True
    np.testing.assert_array_equal(mibf.data, snap)
    # other ids claim the remaining empty slots of the frame
    assert mibf.insert_online(frame, 9, 1) is True
    assert mibf.insert_online(frame, 11, 1) is True
    # frame full of other ids → cannot place → saturate + False
    assert mibf.insert_online(frame, 13, 1) is False
    idx = frame % np.uint64(mibf.m_bits)
    rpos = mibf.rank_pos(idx[None, :])[0]
    assert ((mibf.data[rpos] & np.uint32(1 << 31)) != 0).all()
    # stored ids survive saturation and still match on re-insert
    assert mibf.insert_online(frame, 7, 1) is True
    # inserting into an ALREADY saturated frame that lacks the id:
    # nothing placeable and everything saturated → False, no new writes
    snap2 = mibf.data.copy()
    assert mibf.insert_online(frame, 13, 1) is False
    np.testing.assert_array_equal(mibf.data, snap2)


def test_online_insert_deterministic():
    a = _online_mibf()
    b = _online_mibf()
    for mf in (a, b):
        mf.insert_seq_online("abcdefgh", 3)
        mf.insert_seq_online("ijklmnop", 5)
        mf.insert_seq_online("abcdefgh", 4)
    np.testing.assert_array_equal(a.data, b.data)
    out = a.classify_batch(["abcdefgh", "ijklmnop"])
    assert out.best_id.tolist() == [3, 5]


@pytest.mark.spark
def test_classify_full_early_exit(mibf_setup):
    """extraFrameLimit early-exit (MIBFQuerySupport.hpp:509-517):
    decisive strings stop scanning early but keep the same winner."""
    _, mibf, rows = mibf_setup
    texts = [t for t, _ in rows[:40]]
    full = mibf.classify_full(texts)
    fast = mibf.classify_full(texts, extra_frame_limit=8)
    agree = total = 0
    for a, b in zip(full, fast):
        if a and b:
            total += 1
            agree += a[0].id == b[0].id
    assert total >= 35
    assert agree / total >= 0.95
    # early-exited strings report counts for the scanned prefix only
    assert all(
        (not a or not b) or b[0].totalCount <= a[0].totalCount for a, b in zip(full, fast)
    )


@pytest.mark.spark
def test_get_match_signature(mibf_setup):
    """Debug op (MIBFQuerySupport.hpp:158-217): window positions +
    per-slot (id, sat) hit patterns, consistent with classify_batch."""
    _, mibf, rows = mibf_setup
    text, ref = rows[0]
    pos, ids, sat, evaluated = mibf.get_match_signature(text)
    assert evaluated == len(text.encode()) - mibf.k + 1
    assert pos.shape[0] == ids.shape[0] == sat.shape[0]
    assert ids.shape[1] == mibf.hash_num
    assert (pos >= 0).all() and (pos < evaluated).all()
    out = mibf.classify_batch([text])
    assert int(out.total_frames[0]) == pos.shape[0]  # same match set
    assert (ids == ref).any()  # the true id appears in the pattern
    # unseen text matches nowhere
    p2, i2, s2, ev2 = mibf.get_match_signature("zz yy xx ww vv uu")
    assert p2.size == 0 and ev2 > 0


SEEDS = ["110111", "111011", "101111"]


@pytest.mark.spark
def test_spaced_seed_mibf_end_to_end(spark):
    """Spaced-seed mode (the reference miBF's stHashIterator mode):
    build + classify with one hash per '1'/'0' pattern; masked
    positions don't contribute, so single-character noise at a masked
    offset still matches (allowed_misses covers the rest)."""
    rng = np.random.default_rng(11)
    rows = []
    for ref in (1, 2, 3):
        vocab = [f"ref{ref}tok{i:03d}" for i in range(120)]
        for _ in range(20):
            rows.append((" ".join(rng.choice(vocab, 25)), ref))
    df = spark.createDataFrame(rows, "text string, ref_id long").repartition(4)
    mibf = build_mibf(
        df, "text", "ref_id", m_bits=1 << 17, hash_num=len(SEEDS), k=len(SEEDS[0]),
        spaced_seeds=SEEDS,
    )
    assert mibf.spaced_seeds == SEEDS
    texts = [t for t, _ in rows]
    truth = np.array([r for _, r in rows])
    out = mibf.classify_batch(texts)
    assert (out.best_id.to_numpy() == truth).mean() >= 0.95
    # allowed_misses=1 can only widen the match set
    out1 = mibf.classify_batch(texts, allowed_misses=1)
    assert (out1.total_frames >= out.total_frames).all()
    full = mibf.classify_full(texts[:20], allowed_misses=1)
    hits = [r for r in full if r]
    assert len(hits) >= 18
    for r in hits:
        assert r[0].solidCount <= r[0].count  # miss frames are not solid


@pytest.mark.spark
def test_allowed_misses_on_sparse_filter_no_crash(spark):
    """Regression: with allowed_misses > 0, a missed hash can land past
    the filter's last set bit; its rank equals data.size and must NOT
    be gathered (previously IndexError). Probe a large random corpus
    against a tiny sparse filter so such slots certainly occur."""
    rng = np.random.default_rng(7)
    rows = [(" ".join(rng.choice([f"w{i}" for i in range(20)], 12)), 1) for _ in range(5)]
    df = spark.createDataFrame(rows, "text string, ref_id long")
    mibf = build_mibf(df, "text", "ref_id", m_bits=1 << 10, hash_num=3, k=8)
    corpus = [" ".join(rng.choice([f"x{i}" for i in range(500)], 30)) for _ in range(300)]
    out = mibf.classify_batch(corpus, allowed_misses=2)
    assert len(out) == 300
    full = mibf.classify_full(corpus[:50], allowed_misses=2)
    assert len(full) == 50


@pytest.mark.spark
def test_spaced_seed_mibf_io_roundtrip(spark, tmp_path):
    """Spaced filters persist their own patterns and reload into the
    same mode (header seed section, MIBloomFilter.hpp:185-210)."""
    from btl_bloomfilter_spark.sources.mibf_io import load_mibf, save_mibf

    rng = np.random.default_rng(12)
    rows = [(" ".join(rng.choice([f"t{i}" for i in range(80)], 20)), 1 + i % 2) for i in range(30)]
    df = spark.createDataFrame(rows, "text string, ref_id long")
    mibf = build_mibf(
        df, "text", "ref_id", m_bits=1 << 15, hash_num=len(SEEDS), k=len(SEEDS[0]),
        spaced_seeds=SEEDS,
    )
    save_mibf(mibf, tmp_path / "sp.mibf")
    back, seeds = load_mibf(tmp_path / "sp.mibf")
    assert seeds == SEEDS and back.spaced_seeds == SEEDS
    texts = [t for t, _ in rows[:8]]
    assert back.classify_batch(texts).best_id.tolist() == mibf.classify_batch(texts).best_id.tolist()


def test_spaced_bloom_arrow_equals_pandas():
    """Spaced-seed Bloom: update_arrow == update bit-for-bit."""
    import pyarrow as pa

    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    texts = ["hello world xx", "spaced seed bits", None, "", "zz"]
    a = BloomFilter(1 << 14, 2, 0, spaced_seeds=["1101", "1011"])
    b = BloomFilter(1 << 14, 2, 0, spaced_seeds=["1101", "1011"])
    a.update(texts)
    b.update_arrow(pa.array(texts, pa.string()))
    np.testing.assert_array_equal(a.bits, b.bits)
    # arrow probe equals pandas probe
    np.testing.assert_array_equal(
        a.contains_batch([t or "" for t in texts]), b.contains_arrow(pa.array(texts, pa.string()))
    )


def test_spaced_seed_bloom_masked_positions_collide():
    """Spaced Bloom (st/ssHashIterator analog): strings differing only
    at masked ('0') positions hash identically → full containment."""
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    pattern = "11011"  # position 2 masked
    bf = BloomFilter(1 << 14, 1, 0, spaced_seeds=[pattern])
    bf.update(["abXde"])
    assert bool(bf.contains_batch(["abYde"])[0])  # masked diff → same window hash
    assert not bool(bf.contains_batch(["zbYde"])[0])  # care-position diff
    with pytest.raises(NotImplementedError):
        bf.update_and_check(["abcde"])


@pytest.mark.spark
def test_canonical_mibf_end_to_end(spark):
    """Canonical miBF (NTC64 mode): reverse-complement reads classify
    to the same reference as the forward reads."""
    rng = np.random.default_rng(21)
    comp = {"A": "T", "T": "A", "C": "G", "G": "C"}
    rows = []
    for ref in (1, 2, 3):
        for _ in range(15):
            rows.append(("".join(rng.choice(list("ACGT"), 80)), ref))
    df = spark.createDataFrame(rows, "text string, ref_id long")
    mibf = build_mibf(df, "text", "ref_id", m_bits=1 << 17, hash_num=3, k=12, canonical=True)
    assert mibf.canonical
    rc = ["".join(comp[c] for c in reversed(t)) for t, _ in rows]
    fwd = mibf.classify_batch([t for t, _ in rows])
    rev = mibf.classify_batch(rc)
    assert fwd.best_id.tolist() == rev.best_id.tolist()
    assert fwd.frames.tolist() == rev.frames.tolist()
    truth = [r for _, r in rows]
    assert (fwd.best_id.to_numpy() == np.array(truth)).mean() >= 0.9


@pytest.mark.spark
def test_classify_full_per_id_min_count(mibf_setup):
    """Per-ID minCount vector (reference query signature): an ID that
    misses ITS floor drops out while others keep their floors."""
    _, mibf, rows = mibf_setup
    texts = [t for t, _ in rows[:20]]
    base = mibf.classify_full(texts)
    winner_ids = {r[0].id for r in base if r}
    assert winner_ids
    blocked = next(iter(winner_ids))
    gated = mibf.classify_full(texts, min_count={blocked: 10**9})
    for b, g in zip(base, gated):
        if b and b[0].id == blocked:
            assert not g or g[0].id != blocked
        elif b and g:
            assert g[0].id == b[0].id


@pytest.mark.spark
def test_serialize_roundtrip(mibf_setup):
    _, mibf, rows = mibf_setup
    back = Sketch.deserialize(mibf.serialize())
    np.testing.assert_array_equal(back.bits, mibf.bits)
    np.testing.assert_array_equal(back.data, mibf.data)
    texts = [rows[0][0], rows[-1][0]]
    a = mibf.classify_batch(texts)
    b = back.classify_batch(texts)
    assert a.best_id.tolist() == b.best_id.tolist()


# ---------------------------------------------------------------------------
# strand-aware surface (MIBloomFilter.hpp:36-42,309-373,557-569,688-707;
# MIBFQuerySupport.hpp:111-130)
# ---------------------------------------------------------------------------

_COMP = {"A": "T", "T": "A", "C": "G", "G": "C"}


def _rc(s: str) -> str:
    return "".join(_COMP[c] for c in reversed(s))


def _canon_mibf(texts, m_bits=1 << 14, h=3, k=6):
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    bf = BloomFilter(m_bits, h, k, canonical=True)
    bf.update(list(texts))
    mibf = MIBloomFilter(m_bits, h, k, canonical=True)
    mibf.freeze(bf.bits.copy())
    return mibf


def test_strand_insert_and_rc_query():
    """Strand bit round trip: canonical hashing makes a sequence and
    its reverse complement probe the same slots; the stored strand bit
    records which direction won at insert time, and both the sequence
    and its RC classify back to the same strand-stripped ID."""
    from btl_bloomfilter_spark.operators.mibf import ID_MASK_STRAND, STRAND_BIT

    rng = np.random.default_rng(11)
    seqs = ["".join(rng.choice(list("ACGT"), size=40)) for _ in range(2)]
    mibf = _canon_mibf(seqs)
    for i, s in enumerate(seqs, start=1):
        assert mibf.insert_seq_online_strand(s, i) is True
    stored = mibf.data[mibf.data != 0]
    # both strand variants exist in the data array (random 40-mers mix
    # fwd- and rc-winning windows)
    assert ((stored & STRAND_BIT) != 0).any()
    assert ((stored & STRAND_BIT) == 0).any()
    for i, s in enumerate(seqs, start=1):
        for query in (s, _rc(s)):
            res = mibf.classify_full([query])[0]
            assert res, f"no candidate for {'RC' if query != s else 'fwd'} of seq {i}"
            assert int(res[0].id) & int(ID_MASK_STRAND) == i


def test_get_id_counts_strand_pools_variants():
    """getIDCountsStrand pools id and id|s_strand into one bucket
    (MIBloomFilter.hpp:557-569) while plain getIDCounts keeps them
    distinct; the saturated tally matches pop_saturated."""
    from btl_bloomfilter_spark.operators.mibf import STRAND_BIT

    rng = np.random.default_rng(13)
    seqs = ["".join(rng.choice(list("ACGT"), size=60)) for _ in range(3)]
    mibf = _canon_mibf(seqs, m_bits=1 << 15)
    for i, s in enumerate(seqs, start=1):
        mibf.insert_seq_online_strand(s, i)
    plain = mibf.get_id_counts()
    pooled, saturated = mibf.get_id_counts_strand()
    assert saturated == mibf.pop_saturated()
    for i in range(1, 4):
        both = plain.get(i, 0) + plain.get(i | int(STRAND_BIT), 0)
        if both:
            assert pooled.get(i, 0) == both
    # the id-0 (empty-slot) bucket is included, faithful to the
    # reference's begin()-anchored total
    assert 0 in pooled
    assert pooled[0] >= int((mibf.data == 0).sum())


def test_calc_frame_probs_strand():
    from btl_bloomfilter_spark.operators.mibf_query import calc_frame_probs_strand

    rng = np.random.default_rng(17)
    seqs = ["".join(rng.choice(list("ACGT"), size=60)) for _ in range(3)]
    mibf = _canon_mibf(seqs, m_bits=1 << 15)
    for i, s in enumerate(seqs, start=1):
        mibf.insert_seq_online_strand(s, i)
    probs, sat_prop = calc_frame_probs_strand(mibf)
    assert probs and all(0.0 <= p <= 1.0 for p in probs.values())
    assert 0 not in probs  # empty-slot bucket feeds the total only
    assert 0.0 <= sat_prop <= 1.0


def test_strand_insert_rejects_wide_ids():
    mibf = _canon_mibf(["ACGTACGTACGT"])
    with pytest.raises(ValueError):
        mibf.insert_online_strand(np.zeros(3, dtype=np.uint64), False, 1 << 30, 1)


@pytest.mark.spark
def test_classify_full_paired_union_semantics(mibf_setup):
    """Two-iterator query (MIBFQuerySupport.hpp:111-130): without an
    early exit the interleaved tally is order-independent and additive
    over the two iterators' frame sets."""
    _, mibf, rows = mibf_setup
    # two documents of the same reference
    a = rows[0][0]
    b = rows[1][0]
    ref = rows[0][1]
    assert rows[1][1] == ref
    paired = mibf.classify_full_paired([(a, b)])[0]
    assert paired and paired[0].id == ref
    ra = mibf.classify_full([a])[0]
    rb = mibf.classify_full([b])[0]
    # additivity of the per-frame counters for the winning id
    assert paired[0].count == ra[0].count + rb[0].count
    assert paired[0].totalCount == ra[0].totalCount + rb[0].totalCount
    # order independence
    swapped = mibf.classify_full_paired([(b, a)])[0]
    assert swapped[0].id == paired[0].id
    assert swapped[0].count == paired[0].count
    # an empty second iterator degenerates to the single-iterator query
    alone = mibf.classify_full_paired([(a, "")])[0]
    assert alone[0].id == ra[0].id and alone[0].count == ra[0].count


@pytest.mark.spark
def test_classify_full_paired_early_exit(mibf_setup):
    """A decisive candidate in the interleaved stream stops BOTH
    iterators: scanned-prefix counts never exceed the full tally."""
    _, mibf, rows = mibf_setup
    pairs = [(rows[i][0], rows[i + 1][0]) for i in range(0, 30, 2)]
    full = mibf.classify_full_paired(pairs)
    fast = mibf.classify_full_paired(pairs, extra_frame_limit=8)
    for a, b in zip(full, fast):
        if a and b:
            assert b[0].totalCount <= a[0].totalCount
    winners_agree = [
        a[0].id == b[0].id for a, b in zip(full, fast) if a and b
    ]
    assert sum(winners_agree) / max(len(winners_agree), 1) >= 0.9


@pytest.mark.spark
def test_distributed_strand_build(spark):
    """build_mibf(strand=True): strand-carrying values chosen by the
    deterministic reservoir; both orientations of a read classify to
    the same strand-stripped reference id, strand histogram pools, and
    the stored-value law matches the online strand insert (strandDir=1
    at max=1: bit set when the FORWARD fold won)."""
    from btl_bloomfilter_spark.operators.mibf import (
        ID_MASK_STRAND,
        STRAND_BIT,
        build_mibf,
    )
    from btl_bloomfilter_spark.operators.mibf_query import calc_frame_probs_strand

    rng = np.random.default_rng(23)
    rows = []
    for ref in (1, 2, 3):
        base = "".join(rng.choice(list("ACGT"), size=400))
        for s in range(6):
            lo = int(rng.integers(0, 300))
            rows.append((base[lo : lo + 100], ref))
    df = spark.createDataFrame(rows, "text string, ref_id long").repartition(4)
    mibf = build_mibf(df, "text", "ref_id", m_bits=1 << 16, hash_num=3, k=12, canonical=True, strand=True)
    stored = mibf.data[mibf.data != 0]
    assert ((stored & STRAND_BIT) != 0).any() and ((stored & STRAND_BIT) == 0).any()
    pooled, _ = mibf.get_id_counts_strand()
    assert set(pooled) - {0} <= {1, 2, 3}
    probs, _ = calc_frame_probs_strand(mibf)
    assert set(probs) <= {1, 2, 3}
    comp = {"A": "T", "T": "A", "C": "G", "G": "C"}
    ok = 0
    for text, ref in rows[:8]:
        for q in (text, "".join(comp[c] for c in reversed(text))):
            res = mibf.classify_full(q and [q])[0]
            if res and int(res[0].id) & int(ID_MASK_STRAND) == ref:
                ok += 1
    assert ok >= 14  # ≥ 14/16 orientations classify correctly
    # determinism across rebuilds
    mibf2 = build_mibf(df, "text", "ref_id", m_bits=1 << 16, hash_num=3, k=12, canonical=True, strand=True)
    np.testing.assert_array_equal(mibf.data, mibf2.data)


def test_distributed_strand_build_requires_canonical(spark):
    from btl_bloomfilter_spark.operators.mibf import build_mibf

    df = spark.createDataFrame([("ACGT", 1)], "text string, ref_id long")
    with pytest.raises(ValueError, match="canonical"):
        build_mibf(df, "text", "ref_id", m_bits=1 << 10, hash_num=2, k=3, strand=True)


@pytest.mark.spark
def test_classify_full_paired_from_fasta_files(spark, tmp_path):
    """Paired-read workflow through the FILE path (the reference's
    two-iterator query, MIBFQuerySupport.hpp:111-130, as a user would
    actually run it): reference contigs → build_mibf; mate pairs drawn
    from the same contig written as _1/_2 FASTA files, scanned with
    read_fasta, joined on record id, classified with
    classify_full_paired — both plain and early-exit paths."""
    from btl_bloomfilter_spark.operators.mibf import build_mibf
    from btl_bloomfilter_spark.sources.fastx import read_fasta

    rng = np.random.default_rng(17)
    n_refs = 6
    refs = {i + 1: "".join(rng.choice(list("ACGT"), size=800)) for i in range(n_refs)}
    ref_df = spark.createDataFrame(
        [(t, i) for i, t in refs.items()], "text string, ref_id long"
    )
    mibf = build_mibf(ref_df, "text", "ref_id", m_bits=1 << 18, hash_num=3, k=12)
    p1, p2 = tmp_path / "reads_1.fa", tmp_path / "reads_2.fa"
    truth = {}
    with open(p1, "w") as f1, open(p2, "w") as f2:
        for r in range(80):
            ref = int(rng.integers(1, n_refs + 1))
            p = int(rng.integers(0, 400))
            truth[f"pair{r}"] = ref
            f1.write(f">pair{r}\n{refs[ref][p:p + 120]}\n")
            f2.write(f">pair{r}\n{refs[ref][p + 200:p + 320]}\n")
    r1 = read_fasta(spark, str(p1)).withColumnRenamed("seq", "seq1")
    r2 = read_fasta(spark, str(p2)).withColumnRenamed("seq", "seq2")
    joined = r1.join(r2, "header").collect()
    assert len(joined) == 80  # file scan found every pair
    pairs = [(row["seq1"], row["seq2"]) for row in joined]
    res = mibf.classify_full_paired(pairs)
    ok = sum(1 for row, lst in zip(joined, res) if lst and lst[0].id == truth[row["header"]])
    assert ok / len(joined) >= 0.95, ok / len(joined)
    # early-exit path classifies the same corpus consistently
    res_exit = mibf.classify_full_paired(pairs, extra_frame_limit=10)
    ok2 = sum(
        1 for row, lst in zip(joined, res_exit) if lst and lst[0].id == truth[row["header"]]
    )
    assert ok2 / len(joined) >= 0.95, ok2 / len(joined)


@pytest.mark.spark
def test_with_paired_classification_matches_driver(spark, mibf_setup):
    """Distributed paired query == driver classify_full_paired on the
    same pairs, field for field."""
    from btl_bloomfilter_spark.operators.mibf import with_paired_classification

    df, mibf, rows = mibf_setup
    from pyspark.sql import functions as F

    # mate pairs: split each doc's tokens in half
    pairs_df = df.select(
        "ref_id",
        F.array_join(F.slice(F.split("text", " "), 1, 12), " ").alias("seq1"),
        F.array_join(F.slice(F.split("text", " "), 13, 1 << 20), " ").alias("seq2"),
        "text",
    )
    got = (
        with_paired_classification(
            pairs_df, mibf, "seq1", "seq2", keep=["text", "ref_id"], min_count=1
        )
        .toPandas()
        .sort_values("text")
        .reset_index(drop=True)
    )
    from btl_bloomfilter_spark.operators.mibf_query import calc_frame_probs

    fp, _ = calc_frame_probs(mibf)
    src = pairs_df.toPandas().sort_values("text").reset_index(drop=True)
    want = mibf.classify_full_paired(
        list(zip(src["seq1"], src["seq2"])), min_count=1, frame_probs=fp
    )
    w_best = [lst[0] if lst else None for lst in want]
    np.testing.assert_array_equal(
        got["best_id"].to_numpy(), np.array([r.id if r else -1 for r in w_best])
    )
    np.testing.assert_array_equal(
        got["non_sat_frame_count"].to_numpy(),
        np.array([r.nonSatFrameCount if r else 0 for r in w_best]),
    )
    np.testing.assert_array_equal(
        got["n_candidates"].to_numpy(), np.array([len(lst) for lst in want])
    )
    # and it classifies: accuracy against the planted refs
    ok = (got["best_id"].to_numpy() == got["ref_id"].to_numpy()).mean()
    assert ok >= 0.9, ok


@pytest.mark.spark
def test_build_mibf_checkpoint_resume(spark, mibf_setup, tmp_path):
    """North-rule resumability through passes 1 AND 2: a rebuild with a
    DIFFERENT source but matching params + lineage must resume from the
    checkpointed bit-vector partials and (rpos, id, c) counts and
    produce an identical filter; changing the lineage invalidates the
    checkpoint."""
    df, _, _ = mibf_setup
    ck = str(tmp_path / "ck")
    # repair=False isolates the checkpointed passes: saturation (which
    # rightly re-runs over whatever source is supplied) only ORs the
    # sticky bit and never touches the stored ID field, so resumed ID
    # fields must be bit-identical iff passes 1+2 came from disk
    kw = dict(m_bits=1 << 18, hash_num=3, k=10, repair=False, checkpoint_dir=ck, lineage="corpus@v1")
    first = build_mibf(df, "text", "ref_id", **kw)
    # different (tiny) source, same checkpoint identity → passes 1+2
    # resume from disk: same bits, same reservoir winners
    other = df.limit(10)
    resumed = build_mibf(other, "text", "ref_id", **kw)
    np.testing.assert_array_equal(resumed.bits, first.bits)
    np.testing.assert_array_equal(resumed.data & ID_MASK, first.data & ID_MASK)
    # changed lineage → full rebuild from the new (smaller) source
    fresh = build_mibf(
        other, "text", "ref_id", m_bits=1 << 18, hash_num=3, k=10, repair=False,
        checkpoint_dir=ck, lineage="corpus@v2",
    )
    assert not np.array_equal(fresh.data & ID_MASK, first.data & ID_MASK)
