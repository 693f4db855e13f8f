"""Deduplication operators for large-scale training-data pipelines.

- exact_dedup: hash-groupBy (shuffle on digest, scales linearly)
- ngram_jaccard_pairs: exact n-gram-set Jaccard via shingle explode +
  self-join on shingle (pure DataFrame ops → Catalyst plans the
  shuffle; blocking by shared shingle keeps it far from O(n²))
- MinHash + LSH banding: signatures via one zero-copy Arrow kernel
  (vectorized tokenizer → span hashes → n-gram rotate-XOR fold →
  NTE64 fan-out — no gram strings, no per-row Python), candidate
  pairs by band-bucket groupBy — the standard web-scale near-dup path
- SimHash: 64-bit weighted-vote fingerprint; hamming-≤d candidates by
  (d+1)-band exact-match blocking (pigeonhole: ≤d differing bits ⇒
  at least one band equal — complete at the requested radius)

All shuffles key on content digests (uniform), so no skew salting is
needed here; the LSH band join broadcasts nothing and scales as the
number of colliding pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H


# ------------------------------ exact --------------------------------


def exact_dedup(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """One row per distinct value: keeper id (min), dup count."""
    return (
        df.groupBy(F.md5(F.col(col)).alias("digest"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_keep(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """The deduplicated table itself (keeps the min-id row per value)."""
    w = exact_dedup(df, col, id_col).select("keeper_id")
    return df.join(w, df[id_col] == w["keeper_id"], "left_semi")


# -------------------------- n-gram jaccard ---------------------------


def shingles(df: DataFrame, col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-grams per document (id, shingle)."""
    from ..plans.spread import fan_out

    toks = F.split(F.trim(F.col("__t")), r"\s+")
    idx = F.sequence(F.lit(0), F.size(toks) - n)  # starts 0..L-n
    gram = F.when(F.size(toks) >= n, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))).otherwise(
        F.array().cast("array<string>")
    )
    # fan_out: the tokenize+explode map is the cost; an
    # under-partitioned source (single-row-group parquet) would run it
    # on one core (no-op on healthy layouts — see plans/spread)
    return (
        fan_out(df.select(F.col(id_col).alias("id"), F.col(col).alias("__t")))
        .select("id", F.explode(gram).alias("shingle"))
        .where(F.col("shingle") != "")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for all pairs sharing ≥1
    shingle.  inter/(|A|+|B|-inter) ≥ threshold.

    Plan: explode → self-join on shingle (shuffle keyed by shingle)
    → pair-count agg → join per-doc set sizes.  Only co-shingled
    pairs ever materialize.

    ``max_doc_freq`` caps shingle document frequency: a single hot
    shingle (a stopword trigram appearing in d documents) otherwise
    contributes d² pair rows — the classic skew blow-up.  Shingles in
    more than max_doc_freq docs are dropped from the universe (both
    intersections AND set sizes), so the result is the exact Jaccard
    over the capped shingle universe.  Shingles are DISTINCT per
    (id, shingle), so the structural group-size cap below IS the
    document-frequency cap.

    Plan (round-5 rewrite, mirrors duplicate_spans): ONE shuffle of
    the shingle table into groupBy(shingle).collect_list, pair
    expansion inside each group — the exploded shingle table is never
    self-joined and never session-cached (the previous formulation
    left a .cache() of a table BIGGER than the corpus in executor
    storage for the session's lifetime).  The grouped aggregate feeds
    two branches (pairs + set sizes); both share the one Exchange via
    ReuseExchange, so the source is scanned once.
    """
    sh = shingles(df, col, id_col, n)
    return jaccard_pairs_from_shingles(
        sh, threshold=threshold, max_doc_freq=max_doc_freq
    )


def jaccard_pairs_from_shingles(
    sh: DataFrame,
    *,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs from a pre-built DISTINCT (id, shingle)
    table — the grouped pair-expansion core of
    :func:`ngram_jaccard_pairs`, reusable over any shingle
    derivation (word n-grams, conversation turn-digest w-grams, …).
    Same plan and capping semantics as documented there."""
    grouped = sh.groupBy("shingle").agg(F.collect_list("id").alias("ids"))
    if max_doc_freq is not None:
        grouped = grouped.where(F.size("ids") <= max_doc_freq)
    # THREE consumers of the grouped table (the pair expansion + both
    # size-join sides): uncached, Catalyst re-runs the full shingle
    # derivation + groupBy per consumer (r6 plan audit).  One eager
    # checkpoint computes it once; the doc-sized size table is likewise
    # materialized once and broadcast into the two final joins.
    grouped = grouped.localCheckpoint(eager=True)
    sizes = (
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("sz"))
        .localCheckpoint(eager=True)
    )
    inter = (
        grouped.where(F.size("ids") >= 2)
        .select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .where(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(F.broadcast(sa), F.col("id_a") == F.col("sa.id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


# ----------------------------- MinHash -------------------------------


def _tokens_of_arrow(arr, seed_salt: int):
    """(per-token hashes, token row ids, n_rows) from an Arrow string
    array — zero-copy UTF-8 buffers, vectorized tokenizer, one span
    hash pass.  Null rows contribute no tokens."""
    data, offsets, null_mask = H.arrow_utf8_buffers(arr)
    n_rows = len(offsets) - 1
    starts, ends, tok_rows = H.tokenize_buffers(data, offsets)
    if null_mask is not None and starts.size:
        keep = ~null_mask[tok_rows]
        starts, ends, tok_rows = starts[keep], ends[keep], tok_rows[keep]
    if starts.size == 0:
        return np.empty(0, dtype=np.uint64), tok_rows, n_rows
    th = H.hash_spans_from_buffers(data, starts, ends, 1, seeds=H.seed_table(seed_salt))[:, 0]
    return th, tok_rows, n_rows


# fan-out chunk: bounds the (chunk, num_perm) uint64 temporary to
# ~256 MB at num_perm=128 while amortizing the numpy pass overhead
_GRAM_CHUNK = 1 << 18


def _minhash_sigs_from_arrow(arr, num_perm: int, shingle_n: int, seed_salt: int) -> np.ndarray:
    """(n_rows, num_perm) uint64 MinHash signatures of one Arrow batch.

    Pipeline (all numpy, no per-row Python, no gram strings):
    tokenize → per-token span hash → n-gram rotate-XOR fold
    (hash_token_ngrams_from_hashes) → NTE64 fan-out per chunk →
    per-row min via minimum.reduceat (grams arrive row-ordered).
    """
    th, tok_rows, n_rows = _tokens_of_arrow(arr, seed_salt)
    sigs = np.full((n_rows, num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    if th.size < shingle_n:
        return sigs
    tok_offs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(np.bincount(tok_rows, minlength=n_rows), out=tok_offs[1:])
    gram, grow = H.hash_token_ngrams_from_hashes(th, tok_offs, shingle_n)
    for lo in range(0, gram.size, _GRAM_CHUNK):
        g = gram[lo : lo + _GRAM_CHUNK]
        r = grow[lo : lo + _GRAM_CHUNK]
        fan = H.nte64(g, num_perm, shingle_n)
        # r is nondecreasing → segment-min with reduceat, then fold
        # each chunk's per-row minima into the running signatures
        seg = np.concatenate([[0], np.flatnonzero(np.diff(r)) + 1])
        urows = r[seg]
        mins = np.minimum.reduceat(fan, seg, axis=0)
        sigs[urows] = np.minimum(sigs[urows], mins)
    return sigs


def minhash_signatures(
    df: DataFrame, col: str, id_col: str, *, num_perm: int = 128, shingle_n: int = 3, seed_salt: int = 0
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures.

    Kernel: mapInArrow over zero-copy UTF-8 buffers — vectorized
    tokenize, one span-hash pass per token, rotate-XOR n-gram fold,
    NTE64 fan-out to num_perm permutations (exact law,
    nthash.hpp:537-542), per-row segment-min.  No pandas string
    materialization and no per-row Python anywhere.
    """
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"id {id_type}, sig array<bigint>"
    from ..plans.spread import fan_out

    # fan_out: the tokenize+NTE64 fan-out kernel is the map cost
    # (no-op on healthy layouts — see plans/spread)
    sdf = fan_out(df.select(F.col(id_col).alias("id"), F.col(col).alias("__text")))

    def fn(batches):
        for rb in batches:
            sigs = _minhash_sigs_from_arrow(rb.column(1), num_perm, shingle_n, seed_salt)
            flat = pa.array(sigs.reshape(-1).view(np.int64))
            offs = pa.array(np.arange(len(sigs) + 1, dtype=np.int32) * num_perm)
            yield pa.record_batch(
                [rb.column(0), pa.ListArray.from_arrays(offs, flat)], names=["id", "sig"]
            )

    return sdf.mapInArrow(fn, out_schema)


def minhash_bands(sig_df: DataFrame, *, bands: int = 32, rows_per_band: int = 4) -> DataFrame:
    """(id, band, band_key) banded view of a signature table.

    A PURE MAP (explode + slice-hash, no shuffle): the band table never
    needs to be persisted — it is always derivable from the (id, sig)
    signature table, which is therefore the ONLY artifact an
    incremental pipeline has to keep (see
    :func:`incremental_minhash_pairs`).
    """
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sig_df.select("id", "sig", band_idx).withColumn(
        "band_key",
        F.xxhash64(
            F.concat_ws(
                ",",
                F.col("band"),
                F.expr(f"cast(slice(sig, band * {rows_per_band} + 1, {rows_per_band}) as array<string>)"),
            )
        ),
    ).drop("sig")


def minhash_lsh_candidates(
    sig_df: DataFrame, *, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on all rows of ≥1 band.

    Band key = (band_idx, hash of the band's slice); groupBy band key
    then pair within buckets.  Shuffle is keyed by band hash
    (uniform); bucket sizes stay tiny for non-dup corpora.
    """
    banded = minhash_bands(sig_df, bands=bands, rows_per_band=rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_jaccard_estimate(sig_df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal
    signature slots (zip_with, JVM-side)."""
    sa = sig_df.alias("sa")
    sb = sig_df.alias("sb")
    num_perm = None  # computed in expression
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sa.sig"), F.col("sb.sig"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            F.round(eq.cast("double") / F.size("sa.sig"), 6).alias("est_jaccard"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    num_perm: int = 128,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dup pairs with estimated jaccard ≥ threshold."""
    sigs = minhash_signatures(df, col, id_col, num_perm=num_perm, shingle_n=shingle_n).cache()
    cands = minhash_lsh_candidates(sigs, bands=bands, rows_per_band=max(1, num_perm // bands))
    est = minhash_jaccard_estimate(sigs, cands)
    return est.where(F.col("est_jaccard") >= threshold)


def incremental_minhash_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    *,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """Near-dup pairs touching a NEW shard, against an already-indexed
    corpus — without re-mining corpus x corpus.

    The incremental contract (pinned by test + the q100 gate): with
    identical signature parameters, the result EQUALS
    :func:`minhash_dedup` over corpus+new restricted to pairs that
    involve at least one new id.  ``new_sigs`` / ``corpus_sigs`` are
    (id, sig) tables from :func:`minhash_signatures` built with the
    SAME num_perm / shingle_n / seed_salt (signatures are deterministic,
    so the persisted corpus table composes with freshly computed shard
    signatures).  Id spaces must be disjoint across the two tables.

    100-TB shape: the corpus signature table is read ONCE and its band
    view is derived by a pure map (:func:`minhash_bands` — no shuffle);
    with ``broadcast_new`` (the normal case: shard << corpus) the
    new-side band table broadcasts, so the new-vs-corpus candidate
    step is a MAP-SIDE join over the corpus scan — the corpus never
    shuffles.  The estimate join then broadcasts the (tiny) candidate
    pair list back over one more corpus-sig scan.  New-vs-new pairs
    go through the standard band-bucket path on the shard alone.
    """
    nb = minhash_bands(new_sigs, bands=bands, rows_per_band=rows_per_band)
    cb = minhash_bands(corpus_sigs, bands=bands, rows_per_band=rows_per_band)
    left = F.broadcast(nb) if broadcast_new else nb
    cross = (
        left.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    within = minhash_lsh_candidates(new_sigs, bands=bands, rows_per_band=rows_per_band)
    cands = cross.unionByName(within).distinct()
    all_sigs = corpus_sigs.unionByName(new_sigs)
    # the candidate list is pair-bounded by the shard — hint it as the
    # broadcast side or the estimate join would shuffle the FULL
    # corpus signature table (twice: sa and sb), which is exactly the
    # corpus shuffle this operator exists to avoid
    est = minhash_jaccard_estimate(
        all_sigs, F.broadcast(cands) if broadcast_new else cands
    )
    return est.where(F.col("est_jaccard") >= threshold)


def incremental_minhash_dedup(
    new_df: DataFrame,
    col: str,
    id_col: str,
    corpus_sigs: DataFrame,
    *,
    num_perm: int = 128,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.5,
    seed_salt: int = 0,
    broadcast_new: bool = True,
) -> DataFrame:
    """Convenience: signature the new shard, then
    :func:`incremental_minhash_pairs` against the persisted corpus
    signature table.  num_perm / shingle_n / seed_salt MUST match the
    corpus index build (mismatched widths fail the zip_with estimate;
    a mismatched salt silently estimates ~0 — parameterize both sides
    from one config)."""
    sigs = minhash_signatures(
        new_df, col, id_col, num_perm=num_perm, shingle_n=shingle_n, seed_salt=seed_salt
    )
    return incremental_minhash_pairs(
        sigs,
        corpus_sigs,
        bands=bands,
        rows_per_band=max(1, num_perm // bands),
        threshold=threshold,
        broadcast_new=broadcast_new,
    )


# ----------------------------- SimHash -------------------------------


def _simhash_votes(th: np.ndarray, tok_rows: np.ndarray, n_rows: int) -> np.ndarray:
    """(n_rows,) uint64 fingerprints from per-token hashes via
    majority sign-vote per bit.  Chunked segment sums (reduceat on
    the row-ordered token stream) — no per-row Python."""
    votes = np.zeros((n_rows, 64), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)[None, :]
    for lo in range(0, th.size, _GRAM_CHUNK):
        h = th[lo : lo + _GRAM_CHUNK]
        r = tok_rows[lo : lo + _GRAM_CHUNK]
        contrib = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int32) * 2) - 1
        seg = np.concatenate([[0], np.flatnonzero(np.diff(r)) + 1])
        urows = r[seg]  # unique within a chunk → fancy += is safe
        votes[urows] += np.add.reduceat(contrib, seg, axis=0)
    fp = (votes > 0).astype(np.uint64)
    return (fp << np.arange(64, dtype=np.uint64)[None, :]).sum(axis=1, dtype=np.uint64)


def simhash_col(col_series: pd.Series, seed_salt: int = 0) -> np.ndarray:
    """64-bit SimHash per text (pandas-Series convenience wrapper
    around the Arrow kernel; tests / driver-side callers)."""
    import pyarrow as pa

    arr = pa.array([None if t is None else str(t) for t in col_series], pa.string())
    th, tok_rows, n_rows = _tokens_of_arrow(arr, seed_salt)
    if th.size == 0:
        return np.zeros(n_rows, dtype=np.uint64)
    return _simhash_votes(th, tok_rows, n_rows)


def simhash(df: DataFrame, col: str, id_col: str, *, seed_salt: int = 0) -> DataFrame:
    """(id, simhash: long) — mapInArrow over zero-copy UTF-8 buffers."""
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    sdf = df.select(F.col(id_col).alias("id"), F.col(col).alias("__text"))

    def fn(batches):
        for rb in batches:
            th, tok_rows, n_rows = _tokens_of_arrow(rb.column(1), seed_salt)
            fp = (
                _simhash_votes(th, tok_rows, n_rows)
                if th.size
                else np.zeros(n_rows, dtype=np.uint64)
            )
            yield pa.record_batch([rb.column(0), pa.array(fp.view(np.int64))], names=["id", "simhash"])

    return sdf.mapInArrow(fn, f"id {id_type}, simhash bigint")


def simhash_candidates(sh_df: DataFrame, *, max_hamming: int = 3, bands: int | None = None) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming — COMPLETE at the
    requested radius.

    Dispatch (both paths complete, both post-filter by true hamming):

    - radius ≤ 3 (or explicit ``bands``): disjoint exact-match bands,
      bands = max_hamming+1 by default — 16-bit band selectivity, the
      classic Manku et al. web-dedup setting and the cheapest emission
      (n·bands rows).
    - radius 4..11 with default bands: :func:`simhash_candidates_blocked`
      — 4 fixed 16-bit blocks with a Hamming-ball probe enumeration per
      block (Manku-style multi-table blocking), keeping 2^16 bucket
      selectivity at any supported radius instead of collapsing to
      2^(64/(r+1)) buckets (radius 7 under pure pigeonhole bands means
      8-bit bands ⇒ ~n/256 bucket sizes ⇒ a quadratic band self-join at
      web scale).
    """
    if bands is None:
        if 3 < max_hamming < 12:
            return simhash_candidates_blocked(sh_df, max_hamming=max_hamming)
        if max_hamming >= 12:
            # blocked probing refuses e > 2 per-block balls; rather than
            # raising (a regression vs the pre-blocking default, which
            # was complete for any radius < 64), fall back to classic
            # pigeonhole bands — complete but with only
            # 2^(64/(r+1))-value band selectivity, so warn: at radius
            # ≥ 12 the bands are ≤ 4 bits wide and the band self-join
            # degrades toward quadratic on large corpora (MinHash is
            # the right signature at that density)
            import warnings

            if max_hamming >= 64:
                raise ValueError(f"max_hamming must be < 64 (got {max_hamming})")
            warnings.warn(
                f"simhash_candidates(max_hamming={max_hamming}): falling back to "
                f"pigeonhole bands ({max_hamming + 1} bands of ~{64 // (max_hamming + 1)} "
                f"bits); selectivity is poor at this radius — prefer MinHash/Jaccard "
                f"for near-dup detection this loose",
                stacklevel=2,
            )
        bands = max_hamming + 1
    if not (max_hamming < bands <= 64):
        raise ValueError(
            f"bands must satisfy max_hamming < bands <= 64 for complete blocking "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )
    # distribute 64 bits as evenly as possible across the bands;
    # a 64-bit band's mask is -1 (all ones as signed BIGINT — 2^64-1
    # does not fit a SQL integral literal)
    widths = [64 // bands + (1 if i < 64 % bands else 0) for i in range(bands)]
    offs = np.concatenate([[0], np.cumsum(widths[:-1])]).astype(int)
    off_arr = "array(" + ",".join(str(int(o)) for o in offs) + ")"
    mask_arr = "array(" + ",".join(str((1 << w) - 1 if w < 64 else -1) + "L" for w in widths) + ")"
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = sh_df.select("id", "simhash", band_idx).withColumn(
        "band_val",
        F.expr(
            f"shiftrightunsigned(simhash, element_at({off_arr}, band + 1))"
            f" & element_at({mask_arr}, band + 1)"
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(F.col("hamming") <= max_hamming)


def _ball_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of a ``width``-bit Hamming ball of ``radius``
    (radius ≤ 2 supported: 1 + width + C(width,2) masks)."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(width)]
    if radius >= 2:
        masks += [(1 << i) | (1 << j) for i in range(width) for j in range(i + 1, width)]
    return masks


def simhash_candidates_blocked(
    sh_df: DataFrame, *, max_hamming: int, blocks: int = 4
) -> DataFrame:
    """Hamming-≤max_hamming pairs via Manku-style multi-block probing
    (Manku, Jain & Das Sarma, WWW'07 §3 generalized): the 64-bit
    fingerprint splits into ``blocks`` equal blocks; by pigeonhole any
    pair within the radius differs by at most e = ⌊r/blocks⌋ bits in
    SOME block (if every block had ≥ e+1 mismatches the total would be
    ≥ blocks·(e+1) > r).  For each block, the probe side emits every
    value in the Hamming-e ball of its block value and joins against
    the anchor side's exact values — so bucket selectivity stays 2^16
    (for blocks=4) at ANY supported radius, where pure pigeonhole
    banding at radius 7 would fall to 2^8.

    Completeness: pair (A,B) with block distance d ≤ e collides because
    B's exact block value lies inside ball_e(A); enforcing id_a < id_b
    at the join is safe since both orientations are emitted.  True
    hamming is re-checked after the join (precision 1.0).

    100-TB shape: probe emission is n·blocks·|ball| rows (|ball| = 17
    at e=1, 137 at e=2 with 16-bit blocks) of (block, value, id) —
    linear in n; the join shuffles on (block, value) with ~n·blocks/2^16
    expected anchors per bucket.  Radii needing e > 2 (r ≥ 12 at
    blocks=4) are refused — at that density SimHash blocking itself
    stops being selective and a different signature (MinHash) is the
    right tool.  Use :func:`simhash_bucket_stats` to audit bucket-size
    skew on a real corpus before a large run.
    """
    if 64 % blocks:
        raise ValueError(f"blocks must divide 64 (got {blocks})")
    width = 64 // blocks
    e = max_hamming // blocks
    if e > 2:
        raise ValueError(
            f"max_hamming={max_hamming} needs per-block ball radius {e} > 2 at "
            f"{blocks} blocks; blocking is no longer selective at that radius"
        )
    masks = _ball_masks(width, e)
    mask_val = (1 << width) - 1 if width < 64 else -1
    block_idx = F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("block")
    base = sh_df.select("id", "simhash", block_idx).withColumn(
        "block_val", F.expr(f"shiftrightunsigned(simhash, block * {width}) & {mask_val}")
    )
    anchor = base.alias("b")
    mask_arr = "array(" + ",".join(str(m) + "L" for m in masks) + ")"
    probe = base.withColumn("__m", F.explode(F.expr(mask_arr))).withColumn(
        "probe_val", F.expr("block_val ^ __m")
    ).alias("a")
    pairs = (
        probe.join(
            anchor,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.probe_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def simhash_bucket_stats(sh_df: DataFrame, *, blocks: int = 4) -> DataFrame:
    """Anchor-bucket size distribution per block — the skew audit for
    :func:`simhash_candidates_blocked` (a planted hot fingerprint shows
    up here as a dominant (block, value) bucket before it can blow up
    the candidate join).  Returns one row per block: n_buckets,
    max/avg bucket size, and rows in the single largest bucket."""
    if 64 % blocks:
        raise ValueError(f"blocks must divide 64 (got {blocks})")
    width = 64 // blocks
    mask_val = (1 << width) - 1 if width < 64 else -1
    block_idx = F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("block")
    vals = sh_df.select("id", "simhash", block_idx).withColumn(
        "block_val", F.expr(f"shiftrightunsigned(simhash, block * {width}) & {mask_val}")
    )
    per_bucket = vals.groupBy("block", "block_val").agg(F.count("*").alias("sz"))
    return (
        per_bucket.groupBy("block")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.round(F.avg("sz"), 3).alias("avg_bucket"),
        )
        .orderBy("block")
    )


# --------------------- substring-level exact dedup --------------------
# Winnowed fingerprints (Schleimer, Wilkes & Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
# algorithm): the scalable approximation of suffix-array duplicate-span
# detection.  Doc-level ops above can't see a 2 KB span copied into an
# otherwise-unique document; these can.


def _winnow_from_buffers(
    buf: np.ndarray, offsets: np.ndarray, k: int, w: int, seeds: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Winnowing selection over a flat UTF-8 buffer (Arrow layout).

    Rolling k-gram hashes (the library's NTF64 kernel) per row, then
    per sliding window of ``w`` consecutive hashes select the RIGHTMOST
    minimum (robust winnowing, SIGMOD'03 §2.3).  Guarantee: any
    substring shared by two documents with length >= w + k - 1 contains
    a full w-window of k-grams, whose minimum is selected in BOTH
    documents at the same relative offset — so every sufficiently long
    duplicated span yields at least one exact anchor match.

    Returns (row_ids, byte_positions, fingerprints), selection density
    ~ 2/(w+1) of all windows.
    """
    empty = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.uint64))
    n = buf.shape[0]
    if n < k:
        return empty
    valid, rows = H._window_rows(offsets, n - k + 1, k)
    h = H._fold(buf, k, seeds)[valid]
    pos = np.flatnonzero(valid) - offsets[rows]
    W = h.size
    if W == 0:
        return empty
    sel_mask = np.zeros(W, dtype=bool)
    if W >= w:
        sw = np.lib.stride_tricks.sliding_window_view(h, w)  # view, (W-w+1, w)
        # rightmost min per window: argmin over the reversed view
        sel_rel = w - 1 - np.argmin(sw[:, ::-1], axis=1)
        j = np.arange(W - w + 1, dtype=np.int64)
        inside = rows[j] == rows[j + w - 1]  # window fully in one row
        sel_mask[(j + sel_rel)[inside]] = True
    # rows with < w hashes have no full window: select the row minimum
    # so short documents still fingerprint (degenerate winnowing case)
    seg_starts = np.concatenate([[0], np.flatnonzero(np.diff(rows)) + 1])
    seg_ends = np.concatenate([seg_starts[1:], [W]])
    short = (seg_ends - seg_starts) < w
    for s, e in zip(seg_starts[short], seg_ends[short]):
        seg = h[s:e]
        sel_mask[s + (seg.size - 1 - int(np.argmin(seg[::-1])))] = True
    idx = np.flatnonzero(sel_mask)
    return rows[idx], pos[idx], h[idx]


def winnow_fingerprints(
    df: DataFrame, col: str, id_col: str, *, k: int = 16, w: int = 16, seed_salt: int = 0
) -> DataFrame:
    """(id, pos, fp): winnowed k-gram fingerprints per document —
    mapInArrow over zero-copy UTF-8 buffers (no per-row Python, no
    gram strings).  ``pos`` is the byte offset of the selected k-gram;
    matching (fp, relative offsets) across documents locate shared
    substrings (see :func:`duplicate_spans`)."""
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    seeds = H.seed_table(seed_salt)
    from ..plans.spread import fan_out

    # fan_out: the rolling-hash winnow kernel is the map cost; an
    # under-partitioned source would run it on one core (no-op on
    # healthy layouts — see plans/spread)
    sdf = fan_out(df.select(F.col(id_col).alias("id"), F.col(col).alias("__text")))

    def fn(batches):
        for rb in batches:
            data, offs, nulls = H.arrow_utf8_buffers(rb.column(1))
            rows, pos, fp = _winnow_from_buffers(data, offs, k, w, seeds)
            if nulls is not None and rows.size:
                keep = ~nulls[rows]
                rows, pos, fp = rows[keep], pos[keep], fp[keep]
            yield pa.record_batch(
                [
                    rb.column(0).take(pa.array(rows)),
                    pa.array(pos),
                    pa.array(fp.view(np.int64)),
                ],
                names=["id", "pos", "fp"],
            )

    return sdf.mapInArrow(fn, f"id {id_type}, pos long, fp bigint")


def duplicate_spans(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    k: int = 16,
    w: int = 16,
    min_len: int = 64,
    max_anchor_freq: int = 100,
    seed_salt: int = 0,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Duplicated-span detection: (id_a, id_b, start_a, start_b,
    span_len, n_anchors) for every pair of documents sharing a
    substring of detected length >= ``min_len`` bytes.

    Pipeline (100-TB shape — bucketed by fingerprint, NEVER all-pairs,
    and the winnow kernel + its shuffle run exactly ONCE: the
    fingerprint map has a single consumer, the groupBy(fp) below —
    no self-join, no second plan branch, nothing to cache):

    1. winnowed fingerprints per doc (one Arrow map, ~2/(w+1) density);
    2. groupBy(fp) → collect_list of (id, pos) anchors — one shuffle
       on the uniform 64-bit content hash (no skew salting needed);
    3. hot-fingerprint cap: a group bigger than ``max_anchor_freq``
       ANCHOR ROWS (boilerplate, whitespace runs — pair fan-out is
       rows², so rows is the right capped quantity; a document
       repeating a window internally counts once per distinct
       position, winnowing emits each (id, pos) at most once) is
       dropped whole, same guardrail as ngram_jaccard_pairs' cap;
    4. pair expansion WITHIN each group (two explodes over the
       collected array, id_a < id_b) — bounded by max_anchor_freq²
       per fingerprint, post-shuffle, pure JVM;
    5. diagonal chaining: anchors of one pair with equal
       pos_a - pos_b lie on one shared substring; consecutive anchors
       (gap <= w + k, the winnowing selection spacing bound) chain
       into runs via a window function; each run is one reported span.

    ``fingerprints=`` accepts a precomputed (id, pos, fp) map from
    :func:`winnow_fingerprints` (matching k/w) so a persisted map can
    be shared across several calls (e.g. different min_len sweeps).

    Degenerate-corpus note: collect_list materializes each
    fingerprint's anchor group on its reducer BEFORE the size filter
    (the same co-location the previous window-count formulation had).
    A pathologically hot window — identical boilerplate in millions of
    documents — concentrates on one reducer; at that scale persist a
    ``fingerprints=`` map and pre-drop hot fps with
    :func:`drop_hot_fingerprints` (aggregate count + broadcast
    anti-join — two passes over the persisted map, not two kernel
    runs, no hot-group materialization anywhere).

    Detection bound (SIGMOD'03 guarantee): every shared substring of
    true length L >= w + k - 1 produces >= 1 anchor; the reported
    span_len covers [first, last] selected anchor + k, so it
    understates L by at most ~2(w + k) edge bytes — size ``min_len``
    with that slack in mind.  All anchors are exact k-gram matches, so
    precision is 1 up to 64-bit hash collisions."""
    from pyspark.sql import Window

    fps = (
        fingerprints
        if fingerprints is not None
        else winnow_fingerprints(df, col, id_col, k=k, w=w, seed_salt=seed_salt)
    )
    grouped = (
        fps.groupBy("fp")
        .agg(F.collect_list(F.struct("id", "pos")).alias("xs"))
        .where((F.size("xs") >= 2) & (F.size("xs") <= max_anchor_freq))
    )
    # no .distinct() needed: winnowing selects each (id, pos) at most
    # once, so pair expansion cannot emit duplicate anchor rows — a
    # distinct here would cost one full extra shuffle for nothing
    # (unlike the simhash band join, where multi-band collisions DO
    # duplicate pairs)
    anchors = (
        grouped.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
        )
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    wnd = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    gap = F.col("pos_a") - F.lag("pos_a").over(wnd)
    runs = anchors.withColumn(
        "new_run", F.when(gap.isNull() | (gap > w + k), 1).otherwise(0)
    ).withColumn("run", F.sum("new_run").over(wnd.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        runs.groupBy("id_a", "id_b", "diag", "run")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + k).alias("span_len"),
            F.count("*").alias("n_anchors"),
        )
        .where(F.col("span_len") >= min_len)
        .select("id_a", "id_b", "start_a", "start_b", "span_len", "n_anchors")
    )


def drop_hot_fingerprints(fps: DataFrame, max_anchor_freq: int = 100) -> DataFrame:
    """Pre-drop degenerate ultra-hot fingerprints from a (persisted)
    :func:`winnow_fingerprints` map before :func:`duplicate_spans`.

    The in-line cap inside duplicate_spans drops hot groups AFTER
    collect_list has materialized them on a reducer — fine up to the
    cap scale, but a pathological window shared by millions of
    documents (identical boilerplate) would still concentrate its
    anchor rows on one task.  This helper is the documented escape
    hatch: an aggregate count (map-side partial combine — the hot key
    arrives at its reducer as a handful of partial counts, never as
    rows) plus a broadcast anti-join, i.e. two cheap passes over the
    persisted map and NO hot-group materialization anywhere.

    Usage at degenerate scale (unpersist only AFTER an action has
    consumed the spans — duplicate_spans is lazy, and releasing the
    cache first would re-run the winnow kernel for both branches)::

        f = winnow_fingerprints(df, col, id).persist()
        spans = duplicate_spans(df, col, id,
                                fingerprints=drop_hot_fingerprints(f, 100))
        spans.write.parquet(out)   # action while f is cached
        f.unpersist()

    No broadcast hint on the hot set: on a truly degenerate corpus
    the >cap fingerprints can themselves be huge (every boilerplate
    window in a web crawl), and a forced broadcast would collect them
    all to the driver — Catalyst/AQE picks broadcast vs shuffled
    anti-join from the measured size instead.
    """
    hot = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") > max_anchor_freq)
        .select("fp")
    )
    return fps.join(hot, "fp", "left_anti")


def group_fingerprints(
    df: DataFrame,
    group_col: str,
    order_col: str,
    text_col: str,
) -> DataFrame:
    """Order-stable content fingerprint per group: md5 over the
    concatenation of each turn's OWN md5 in ``order_col`` order
    (a digest chain).  Hashing per-element digests instead of the
    raw texts makes the fingerprint injection-proof: with a raw
    separator-join, a text containing the separator byte would make
    ('foo<sep>bar') collide with ('foo','bar') — fixed-width hex
    digests need no separator and cannot encode one.

    The transcript use-case (north_rule's per-row invariant): a
    conversation's identity is its turns' text *in stable
    (conv_id, turn_idx) order* — two conversations are duplicates iff
    the ordered reconstruction matches byte-for-byte.  ``collect_list``
    alone is NOT order-stable under Spark's partitioning, so the sort
    happens inside the group via ``array_sort`` over
    (order, text) structs — deterministic on any cluster layout.

    Returns (group_col, n_rows, fingerprint).  Assumes ``order_col``
    is unique within a group (struct sort falls back to text on ties,
    which is still deterministic but no longer "by order alone") and
    ``text_col`` is non-null.  Scale: ONE shuffle on the group key;
    per-group state is the group's own rows, fine for conversations
    (bounded turns).  For pathological million-row groups, fold
    fixed-size chunks first and fingerprint the chunk digests
    (Merkle-style) instead of materializing the full array.
    """
    parts = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t")))
    )
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_rows"),
        F.md5(F.array_join(F.transform(parts, lambda s: F.md5(s["t"])), "")).alias(
            "fingerprint"
        ),
    )


def duplicate_groups(fp_df: DataFrame, group_col: str) -> DataFrame:
    """Duplicate-group resolution over :func:`group_fingerprints`
    output: per input group, the size of its identical-content class
    and the canonical keeper (min group id).  A second shuffle on the
    fingerprint — both exchanges are on near-uniform keys (md5 /
    conversation id), no skew mitigation needed."""
    w = Window.partitionBy("fingerprint")
    return fp_df.select(
        group_col,
        "n_rows",
        "fingerprint",
        F.count("*").over(w).alias("dup_group_size"),
        F.min(group_col).over(w).alias("keeper"),
    )


def mash_distance(sig_df: DataFrame, pairs: DataFrame, *, shingle_n: int) -> DataFrame:
    """Mash distance between signature pairs (Ondov et al., Genome
    Biology 2016 — the genomics ecosystem btl_bloomfilter serves):
    converts a MinHash Jaccard estimate j over k-shingles into an
    estimate of the per-token substitution rate between two
    documents,

        d = -ln(2j / (1 + j)) / k        (d = 1 when j = 0)

    via the Mash identity: under rate p each k-shingle survives with
    probability s = (1-p)^k, the shared fraction satisfies
    j = s/(2 - s), so d = -ln(s)/k = -ln(1-p) ≈ p.  Two documents'
    "how much drifted" in ONE number with sketch-sized state — the
    same j the dedup kit already computes, reinterpreted as an
    evolutionary-style distance (pinned by a planted-mutation-rate
    law test: d recovers the planted p).

    ln makes d float-transcendental — no hash oracle; the q156 gate
    columns validate against planted rates instead.  Output:
    (id_a, id_b, est_jaccard, mash_d).

    Scale shape: inherits minhash_jaccard_estimate's (two signature
    joins + zip_with slot comparison, JVM-side); d is a row-local
    projection on the pair-sized table.
    """
    if shingle_n < 1:
        raise ValueError(f"shingle_n must be >= 1, got {shingle_n}")
    j_df = minhash_jaccard_estimate(sig_df, pairs)
    j = F.col("est_jaccard")
    d = F.when(
        j > 0,
        -F.log(F.lit(2.0) * j / (F.lit(1.0) + j)) / F.lit(float(shingle_n)),
    ).otherwise(F.lit(1.0))
    return j_df.withColumn("mash_d", F.least(d, F.lit(1.0)))
