"""Vectorized ntHash-style rolling n-gram multi-hash over byte strings.

The reference (`/root/reference/vendor/nthash.hpp`) computes, for each
k-mer window of a DNA string, a 64-bit "base" hash by XOR-folding
per-symbol 64-bit seeds under a 1-bit rotation per position
(`nthash.hpp:394-416`), slides the window in O(1)
(`nthash.hpp:442-448`), and derives h-1 extra hashes from the base via
the NTE64 law (`nthash.hpp:537-542`).

We re-express the same structure over arbitrary UTF-8 bytes, fully
vectorized in numpy (no per-row Python), using a closed form of the
rolling recurrence:

    base(t) = XOR_{j=0..k-1} rol(seed[b[t+j]], k-1-j)

With u[p] = ror(seed[b[p]], p) (absolute position p in a concatenated
byte buffer) and P[p] = prefix-XOR of u, every window hash is

    base(t) = rol(P[t+k-1] ^ P[t-1], (t + k - 1) mod 64)

because rotation distributes over XOR.  Per-string start offsets cancel
(proof in `_roll_hash` docstring), so a whole Arrow batch of strings is
hashed with ~6 numpy passes over one flat byte buffer — the vectorized
equivalent of the reference's O(1) slide.

The NTE64 fan-out law is kept EXACTLY (same constants,
`nthash.hpp:183-186,537-542`):

    h_i = h0 * (i ^ k * 0x90b45d39fb6da1fa);  h_i ^= h_i >> 27
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "MULTI_SEED",
    "MULTI_SHIFT",
    "seed_table",
    "nte64",
    "hash_ngrams",
    "hash_strings",
    "hash_tokens",
    "utf8_buffers",
    "window_hashes",
    "tokenize_buffers",
    "hash_spans_from_buffers",
    "hash_token_ngrams_from_hashes",
    "clz64",
]

# Constants copied from the reference fan-out law (vendor/nthash.hpp:183-186).
MULTI_SEED = np.uint64(0x90B45D39FB6DA1FA)
MULTI_SHIFT = np.uint64(27)

_U64 = np.uint64
_MASK6 = np.uint64(63)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (public domain, Steele et al.) — uint64 in/out."""
    with np.errstate(over="ignore"):
        x = (x + _U64(0x9E3779B97F4A7C15)).astype(np.uint64)
        x ^= x >> _U64(30)
        x *= _U64(0xBF58476D1CE4E5B9)
        x ^= x >> _U64(27)
        x *= _U64(0x94D049BB133111EB)
        x ^= x >> _U64(31)
    return x


_SEED_CACHE: dict[int, np.ndarray] = {}


def seed_table(salt: int = 0) -> np.ndarray:
    """256-entry per-byte 64-bit seed table (analog of seedA/C/G/T,
    nthash.hpp:189-193, generalized to the full byte alphabet).
    Cached per salt — kernels call this once per Arrow batch."""
    tbl = _SEED_CACHE.get(salt)
    if tbl is None:
        with np.errstate(over="ignore"):
            tbl = _splitmix64(np.arange(256, dtype=np.uint64) + _U64(salt) * _U64(0x9E3779B97F4A7C15))
        _SEED_CACHE[salt] = tbl
    return tbl


_SEEDS = seed_table()


def _rol(x: np.ndarray, r: np.ndarray) -> np.ndarray:
    """Rotate-left uint64 by r in [0, 64). Branch-free: (64-r)&63 keeps
    numpy shifts in-range and the r==0 case degenerates to x|x == x."""
    r = np.asarray(r, dtype=np.uint64) & _MASK6
    return (x << r) | (x >> ((_U64(64) - r) & _MASK6))


def _ror(x: np.ndarray, r: np.ndarray) -> np.ndarray:
    r = np.asarray(r, dtype=np.uint64) & _MASK6
    return (x >> r) | (x << ((_U64(64) - r) & _MASK6))


# ---------------------------------------------------------------------------
# buffer pool: the hot kernels run once per Arrow batch inside long-lived
# Python workers; reusing named uint64 scratch buffers avoids the
# mmap/munmap + page-zeroing churn of fresh multi-MB temporaries, which
# otherwise dominates wall time and saturates memory bandwidth when many
# workers run per node.
# ---------------------------------------------------------------------------

_POOL: dict[str, np.ndarray] = {}


def _scratch(name: str, n: int, dtype=np.uint64) -> np.ndarray:
    """Grow-only named scratch buffer; returns a length-n view."""
    arr = _POOL.get(name)
    if arr is None or arr.size < n or arr.dtype != np.dtype(dtype):
        arr = _POOL[name] = np.empty(max(n, 1 << 16), dtype=dtype)
    return arr[:n]


def _positions(n: int) -> np.ndarray:
    """Cached arange(n) % 64 as uint64 (rotation amounts are periodic)."""
    arr = _POOL.get("pos64")
    if arr is None or arr.size < n:
        size = max(n, 1 << 16)
        arr = _POOL["pos64"] = (np.arange(size, dtype=np.uint64) & _MASK6)
    return arr[:n]


def _ror_into(x: np.ndarray, r: np.ndarray, out: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """out = ror(x, r) with no fresh temporaries (r already in [0,64))."""
    np.right_shift(x, r, out=tmp)
    rr = _scratch("ror_rr", x.size)
    np.subtract(_U64(64), r, out=rr)
    np.bitwise_and(rr, _MASK6, out=rr)
    np.left_shift(x, rr, out=out)
    np.bitwise_or(out, tmp, out=out)
    return out


def nte64(h0: np.ndarray, num_hashes: int, k: int, out: np.ndarray | None = None) -> np.ndarray:
    """Multi-hash fan-out: one base hash → ``num_hashes`` hashes.

    EXACT port of the NTE64 law (nthash.hpp:537-542) with hash 0 being
    the base value itself, mirroring NTM64's loop (nthash.hpp:525-534).

    Parameters
    ----------
    h0 : (n,) uint64 base hashes
    out : optional (n, num_hashes) uint64 buffer (reused by hot loops)
    Returns (n, num_hashes) uint64.
    """
    h0 = np.ascontiguousarray(h0, dtype=np.uint64)
    n = h0.shape[0]
    if out is None:
        out = np.empty((n, num_hashes), dtype=np.uint64)
    i = np.arange(num_hashes, dtype=np.uint64)
    with np.errstate(over="ignore"):  # wrap-around multiply is the law
        t = (i ^ (_U64(k) * MULTI_SEED)).astype(np.uint64)
        np.multiply(h0[:, None], t[None, :], out=out)
    tmp = _scratch("nte_tmp", n * num_hashes).reshape(n, num_hashes)
    np.right_shift(out, MULTI_SHIFT, out=tmp)
    np.bitwise_xor(out, tmp, out=out)
    if num_hashes > 0:
        out[:, 0] = h0  # hVal[0] = bVal (nthash.hpp:529)
    return out


def _flatten_utf8(strings) -> tuple[np.ndarray, np.ndarray]:
    """Encode a sequence of strings to one flat uint8 buffer + offsets.

    Returns (buf, offsets) with offsets of length n+1; string s occupies
    buf[offsets[s]:offsets[s+1]].
    """
    encoded = [s.encode("utf-8", "surrogatepass") if isinstance(s, str) else (s or b"") for s in strings]
    lens = np.fromiter((len(e) for e in encoded), dtype=np.int64, count=len(encoded))
    offsets = np.zeros(len(encoded) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    return buf, offsets


def _roll_hash(buf: np.ndarray, k: int, seeds: np.ndarray) -> np.ndarray:
    """All window base-hashes of a flat byte buffer, vectorized.

    Window starting at absolute position p hashes bytes [p, p+k-1]:

        base(p) = rol(P[p+k-1] ^ P[p-1], (p + k - 1) mod 64)

    where P is the prefix-XOR of u[q] = ror(seed[buf[q]], q).

    Per-string offsets cancel: for a string starting at absolute o with
    local index t = p - o, the true hash is rol(U_local, t+k-1) with
    u_local[q] = ror(seed, q-o) = rol(u_abs[q], o); the o-rotation
    distributes over the XOR and combines with t+k-1 into the absolute
    amount p+k-1.  Hence one global pass serves every string in the
    batch; callers mask windows that span string boundaries.
    """
    n = buf.shape[0]
    if n < k:
        return np.empty(0, dtype=np.uint64)
    pos = _positions(n)
    s = _scratch("rh_s", n)
    np.take(seeds, buf, out=s)
    u = _scratch("rh_u", n)
    tmp = _scratch("rh_tmp", n)
    _ror_into(s, pos, u, tmp)
    pre = _scratch("rh_pre", n + 1)
    pre[0] = 0
    np.bitwise_xor.accumulate(u, out=pre[1:])
    nw = n - k + 1
    # w = pre[k:] ^ pre[:-k] ; rotation amount = (start + k - 1) mod 64
    w = _scratch("rh_w", nw)
    np.bitwise_xor(pre[k : n + 1], pre[0:nw], out=w)
    r = _scratch("rh_r", nw)
    np.add(_positions(nw), _U64((k - 1) % 64), out=r)
    np.bitwise_and(r, _MASK6, out=r)
    t2 = _scratch("rh_t2", nw)
    out = np.empty(nw, dtype=np.uint64)
    # out = rol(w, r) = ror(w, (64 - r) & 63)
    np.subtract(_U64(64), r, out=r)
    np.bitwise_and(r, _MASK6, out=r)
    _ror_into(w, r, out, t2)
    return out


# DNA complement (A<->T, C<->G, both cases); all other bytes map to
# themselves, so the canonical mode degrades gracefully on non-ACGT
# text (N handling mirrors the reference's convertTab fallthrough)
DNA_COMPLEMENT = np.arange(256, dtype=np.uint8)
for _a, _b in ((65, 84), (67, 71), (97, 116), (99, 103)):  # A/T C/G a/t c/g
    DNA_COMPLEMENT[_a], DNA_COMPLEMENT[_b] = np.uint8(_b), np.uint8(_a)


def _roll_hash_rc(buf: np.ndarray, k: int, seeds: np.ndarray, comp: np.ndarray) -> np.ndarray:
    """Reverse-complement window hashes: the forward fold applied to
    the reverse complement of each window (NTR64 analog,
    vendor/nthash.hpp:419-439), in one vectorized pass.

    r(t) = XOR_{i=0..k-1} rol(seed[comp(b[t+i])], i)
         = ror( P[t+k-1] ^ P[t-1], t mod 64 )
    with P the prefix-XOR of v[p] = rol(seed[comp(b[p])], p) — the
    mirror of _roll_hash's closed form (rol in the elementwise pass,
    rotation by the window START), and equally position-independent.
    """
    n = buf.shape[0]
    if n < k:
        return np.empty(0, dtype=np.uint64)
    pos = _positions(n)
    cseeds = seeds[comp]
    s = _scratch("rc_s", n)
    np.take(cseeds, buf, out=s)
    v = _scratch("rc_v", n)
    tmp = _scratch("rc_tmp", n)
    rr = _scratch("rc_rr", n)
    np.subtract(_U64(64), pos, out=rr)
    np.bitwise_and(rr, _MASK6, out=rr)
    _ror_into(s, rr, v, tmp)  # v = rol(s, pos)
    pre = _scratch("rc_pre", n + 1)
    pre[0] = 0
    np.bitwise_xor.accumulate(v, out=pre[1:])
    nw = n - k + 1
    w = _scratch("rc_w", nw)
    np.bitwise_xor(pre[k : n + 1], pre[0:nw], out=w)
    out = np.empty(nw, dtype=np.uint64)
    t2 = _scratch("rc_t2", nw)
    _ror_into(w, _positions(nw), out, t2)  # ror by window start mod 64
    return out


def hash_ngrams_canonical_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    k: int,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
    comp: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical (strand-neutral) window hashing — NTC64 analog
    (vendor/nthash.hpp:460-479): per window the base hash is
    min(forward, reverse-complement) and the NTE64 fan-out runs on the
    canonical base (NTMC64's structure), so a sequence and its reverse
    complement produce identical hash sets."""
    seeds = _SEEDS if seeds is None else seeds
    comp = DNA_COMPLEMENT if comp is None else comp
    n = buf.shape[0]
    if n < k:
        return np.empty((0, num_hashes), dtype=np.uint64), np.empty(0, dtype=np.int64)
    fwd = _roll_hash(buf, k, seeds)
    rev = _roll_hash_rc(buf, k, seeds, comp)
    base = np.minimum(fwd, rev)
    starts = np.arange(n - k + 1, dtype=np.int64)
    row_of_pos = np.searchsorted(offsets, starts, side="right") - 1
    valid = starts + k <= offsets[row_of_pos + 1]
    return nte64(base[valid], num_hashes, k), row_of_pos[valid]


def hash_ngrams_canonical(
    strings, k: int, num_hashes: int = 1, *, seeds: np.ndarray | None = None, comp: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical window hashing over a batch of strings (NTC64)."""
    buf, offsets = _flatten_utf8(strings)
    return hash_ngrams_canonical_from_buffers(buf, offsets, k, num_hashes, seeds=seeds, comp=comp)


def hash_ngrams_canonical_strand(
    strings, k: int, num_hashes: int = 1, *, seeds: np.ndarray | None = None, comp: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical window hashing WITH the per-window strand flag — the
    NTMC64 variant that also reports hStn (vendor/nthash.hpp:695-713:
    ``hStn = rhVal < fhVal``, true when the reverse-complement
    direction won the canonical min).  All ``num_hashes`` hashes of a
    window share one strand flag, exactly like the reference's
    single-seed canonical iterator.

    Returns (hashes (W, num_hashes) uint64, rows (W,) int64,
    strand (W,) bool)."""
    seeds = _SEEDS if seeds is None else seeds
    comp = DNA_COMPLEMENT if comp is None else comp
    buf, offsets = _flatten_utf8(strings)
    n = buf.shape[0]
    if n < k:
        return (
            np.empty((0, num_hashes), dtype=np.uint64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=bool),
        )
    fwd = _roll_hash(buf, k, seeds)
    rev = _roll_hash_rc(buf, k, seeds, comp)
    strand = rev < fwd  # hStn (nthash.hpp:712)
    base = np.where(strand, rev, fwd)
    starts = np.arange(n - k + 1, dtype=np.int64)
    row_of_pos = np.searchsorted(offsets, starts, side="right") - 1
    valid = starts + k <= offsets[row_of_pos + 1]
    return nte64(base[valid], num_hashes, k), row_of_pos[valid], strand[valid]


def hash_ngrams_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    k: int,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Core windowed hasher over a flat byte buffer + row offsets.

    ``offsets`` (int64, len n_rows+1, offsets[0] == 0) delimits rows in
    ``buf`` — exactly the Arrow UTF-8 layout, so Arrow batches hash
    zero-copy.  Returns ((W, num_hashes) hashes, (W,) row ids).
    """
    seeds = _SEEDS if seeds is None else seeds
    n = buf.shape[0]
    if n < k:
        return np.empty((0, num_hashes), dtype=np.uint64), np.empty(0, dtype=np.int64)
    base = _roll_hash(buf, k, seeds)  # (n-k+1,)
    # valid windows: fully inside one string
    starts = np.arange(n - k + 1, dtype=np.int64)
    row_of_pos = np.searchsorted(offsets, starts, side="right") - 1
    valid = starts + k <= offsets[row_of_pos + 1]
    base = base[valid]
    row_ids = row_of_pos[valid]
    return nte64(base, num_hashes, k), row_ids


def hash_ngrams(
    strings,
    k: int,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Hash every k-byte window of every string in a batch.

    Equivalent of iterating ntHashIterator over each sequence
    (vendor/ntHashIterator.hpp:59-86) but batched: one flat numpy pass.

    Returns ``(hashes, row_ids)`` where ``hashes`` is (W, num_hashes)
    uint64 over all valid windows of all strings and ``row_ids`` maps
    each window to its source string index.  Strings shorter than k
    yield no windows (reference behavior: iterator ends immediately).
    """
    buf, offsets = _flatten_utf8(strings)
    return hash_ngrams_from_buffers(buf, offsets, k, num_hashes, seeds=seeds)


def arrow_utf8_buffers(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Zero-copy (data, offsets, null_mask) views of an Arrow string array.

    Arrow's UTF-8 layout (int32/int64 offsets + flat data buffer) is
    already the shape the kernels consume — no pandas materialization,
    no per-row re-encode.  offsets are rebased to data[offsets[0]:].
    null_mask is a bool array (True = null) or None when no nulls.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    bufs = arr.buffers()
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[arr.offset : arr.offset + len(arr) + 1].astype(
        np.int64
    )
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    lo, hi = int(offsets[0]), int(offsets[-1])
    if lo != 0:
        data = data[lo:hi]
        offsets = offsets - lo
    else:
        data = data[:hi]
    null_mask = None
    if arr.null_count:
        null_mask = ~np.asarray(arr.is_valid())
    return data, offsets, null_mask


def _strings_of(values) -> list:
    """The library-wide string encoding of a batch: ``None`` → ``""``,
    non-strings → ``str(v)``."""
    out = []
    for v in (values.tolist() if hasattr(values, "tolist") else values):
        out.append(v if isinstance(v, str) else ("" if v is None else str(v)))
    return out


def utf8_buffers(values) -> tuple[np.ndarray, np.ndarray]:
    """(buf, offsets) of a string batch, nulls as ``""`` — the one input
    of every hashing sketch's string methods.

    Arrow ``string``/``large_string`` arrays (chunked or not) are read
    zero-copy; only a batch that holds nulls is copied once by
    ``fill_null``, so a null slot's bytes never reach a hash.  Any
    other sequence goes through :func:`_strings_of`."""
    import pyarrow as pa

    if isinstance(values, (pa.Array, pa.ChunkedArray)) and (
        pa.types.is_string(values.type) or pa.types.is_large_string(values.type)
    ):
        if values.null_count:
            import pyarrow.compute as pc

            values = pc.fill_null(values, "")
        buf, offsets, _ = arrow_utf8_buffers(values)
        return buf, offsets
    return _flatten_utf8(_strings_of(values))


def window_hashes(
    buf: np.ndarray,
    offsets: np.ndarray,
    *,
    k: int,
    num_hashes: int,
    spaced_seeds: list[str] | None = None,
    canonical: bool = False,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(hashes, row ids) of every element of a (buf, offsets) batch under
    one hashing mode — spaced seeds (one column per pattern,
    ``num_hashes`` ignored), canonical k-gram, k-gram (``k > 0``) or
    whole string (``k == 0``, one element per row)."""
    if spaced_seeds:
        if canonical:
            hashes, rows, _ = hash_ngrams_multi_seed_canonical_from_buffers(
                buf, offsets, spaced_seeds, seeds=seeds
            )
            return hashes, rows
        return hash_ngrams_multi_seed_from_buffers(buf, offsets, spaced_seeds, 1, seeds=seeds)
    if canonical:
        return hash_ngrams_canonical_from_buffers(buf, offsets, k, num_hashes, seeds=seeds)
    if k > 0:
        return hash_ngrams_from_buffers(buf, offsets, k, num_hashes, seeds=seeds)
    hashes = hash_strings_from_buffers(buf, offsets, num_hashes, seeds=seeds)
    return hashes, np.arange(offsets.size - 1, dtype=np.int64)


def hash_strings(strings, num_hashes: int = 1, *, seeds: np.ndarray | None = None) -> np.ndarray:
    """One 64-bit (or fanned-out multi-) hash per whole string.

    Same fold as the rolling hash with k = len(string); empty strings
    hash to a fixed seeded constant.  Returns (n, num_hashes) uint64.
    """
    buf, offsets = _flatten_utf8(strings)
    return hash_strings_from_buffers(buf, offsets, num_hashes, seeds=seeds)


def hash_spans_from_buffers(
    buf: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> np.ndarray:
    """Whole-span hashes for ARBITRARY (start, end) byte spans of one
    flat buffer — the generalization of :func:`hash_strings_from_buffers`
    to non-contiguous spans (e.g. tokens inside rows).

    Position-independence: with u[p] = ror(seed[b[p]], p) and
    base = rol(XOR u[start..end), end-1), byte j = p-start contributes
    rol(seed, L-1-j) — only its local index and the span length — so
    equal byte spans hash equal anywhere in the buffer.
    """
    seeds = _SEEDS if seeds is None else seeds
    n = buf.shape[0]
    # pooled scratch (same rationale as _roll_hash): this is the
    # whole-string hot path, one call per Arrow batch in long-lived
    # workers — fresh multi-MB temporaries per call churn mmap pages
    pre = _scratch("hs_pre", n + 1)
    pre[0] = 0
    if n:
        s = _scratch("hs_s", n)
        np.take(seeds, buf, out=s)
        u = _scratch("hs_u", n)
        tmp = _scratch("hs_tmp", n)
        _ror_into(s, _positions(n), u, tmp)
        np.bitwise_xor.accumulate(u, out=pre[1:])
    w = pre[ends] ^ pre[starts]
    # rotation amount (end-1) mod 64; empty spans → seeded constant
    amt = np.maximum(ends - 1, 0).astype(np.uint64)
    base = _rol(w, amt)
    empty = ends == starts
    if empty.any():
        base = base.copy()
        base[empty] = seeds[0]
    # mix in length so prefixes of zero-XOR tails differ
    base = _splitmix64(base ^ (ends - starts).astype(np.uint64))
    # whole-string fan-out uses the fixed convention k=1 in the NTE64 law
    return nte64(base, num_hashes, 1)


def hash_strings_from_buffers(
    buf: np.ndarray, offsets: np.ndarray, num_hashes: int = 1, *, seeds: np.ndarray | None = None
) -> np.ndarray:
    """Whole-string hashes over a flat buffer + offsets (Arrow layout)."""
    return hash_spans_from_buffers(buf, offsets[:-1], offsets[1:], num_hashes, seeds=seeds)


# ASCII whitespace lookup — byte-level split is exact for UTF-8
# (multi-byte code points never contain ASCII bytes).  Matches
# str.split()'s ASCII set: \t \n \v \f \r space plus the information
# separators \x1c-\x1f (which str.isspace() also treats as spaces).
_WS_LUT = np.zeros(256, dtype=bool)
_WS_LUT[[9, 10, 11, 12, 13, 28, 29, 30, 31, 32]] = True


def tokenize_buffers(
    data: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized whitespace tokenization of a flat UTF-8 buffer.

    ``data`` (uint8) + ``offsets`` (int64, len n_rows+1) is the Arrow
    string layout.  Returns (tok_starts, tok_ends, tok_rows): byte
    spans of every token plus the row each belongs to, in buffer
    order (tok_rows is nondecreasing).  Tokens never span rows.
    Matches ``str.split()`` on ASCII-whitespace text (runs collapse,
    leading/trailing ignored).
    """
    n = data.shape[0]
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    tok_byte = ~_WS_LUT[data]
    # a token starts where a non-ws byte follows ws / a row boundary
    new_seg = np.empty(n, dtype=bool)
    new_seg[0] = True
    np.logical_not(tok_byte[:-1], out=new_seg[1:])
    rs = offsets[:-1]
    new_seg[rs[rs < n]] = True  # row starts break tokens (empty rows point at a later row's start — also correct)
    starts = np.flatnonzero(tok_byte & new_seg)
    # a token ends where a non-ws byte precedes ws / a row boundary
    end_seg = np.empty(n, dtype=bool)
    end_seg[-1] = True
    np.logical_not(tok_byte[1:], out=end_seg[:-1])
    re = offsets[1:] - 1
    end_seg[re[re >= 0]] = True  # row ends break tokens (empty rows point at the previous row's end — also correct)
    ends = np.flatnonzero(tok_byte & end_seg) + 1
    rows = np.searchsorted(offsets, starts, side="right") - 1
    return starts.astype(np.int64), ends.astype(np.int64), rows.astype(np.int64)


def hash_token_ngrams_from_hashes(
    tok_hash: np.ndarray, row_offsets: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Word-n-gram base hashes from per-token hashes, zero strings.

    The n-gram hash is the rotate-XOR fold of its n token hashes
    (the ntHash window fold lifted from the byte alphabet to the
    token-hash alphabet: gram(t) = splitmix(XOR_j rol(th[t+j], n-1-j))),
    so no gram string is ever materialized.  ``row_offsets`` (int64,
    len n_rows+1) delimits each row's tokens in the flat ``tok_hash``
    array; windows spanning rows are masked out.

    Returns ((W,) uint64 base hashes, (W,) int64 row ids), row-ordered.
    Fan out with :func:`nte64` for multi-permutation MinHash.
    """
    t = tok_hash.shape[0]
    if t < n:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    nw = t - n + 1
    w = np.zeros(nw, dtype=np.uint64)
    for j in range(n):
        np.bitwise_xor(w, _rol(tok_hash[j : j + nw], np.uint64((n - 1 - j) % 64)), out=w)
    base = _splitmix64(w ^ _U64(n))
    starts = np.arange(nw, dtype=np.int64)
    row_of = np.searchsorted(row_offsets, starts, side="right") - 1
    valid = starts + n <= row_offsets[row_of + 1]
    return base[valid], row_of[valid]


def hash_tokens(token_lists, n: int, num_hashes: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """Hash word n-grams: each n-gram is the '\\x1f'-joined token window.

    token_lists: sequence of lists of tokens. Returns (hashes, row_ids)
    like :func:`hash_ngrams`.
    """
    grams: list[str] = []
    rows: list[int] = []
    for i, toks in enumerate(token_lists):
        if toks is None:
            continue
        for j in range(len(toks) - n + 1):
            grams.append("\x1f".join(toks[j : j + n]))
            rows.append(i)
    if not grams:
        return np.empty((0, num_hashes), dtype=np.uint64), np.empty(0, dtype=np.int64)
    return hash_strings(grams, num_hashes), np.asarray(rows, dtype=np.int64)


def parse_seed(pattern: str) -> np.ndarray:
    """'1'/'0' spaced-seed pattern → int64 array of care positions
    (MIBloomFilter.hpp:49-61 parseSeedString analog: '0' = masked)."""
    if not pattern or set(pattern) - {"0", "1"}:
        raise ValueError(f"seed pattern must be nonempty 0/1 string: {pattern!r}")
    return np.flatnonzero(np.frombuffer(pattern.encode(), dtype=np.uint8) == ord("1")).astype(np.int64)


def hash_ngrams_spaced(
    strings,
    pattern: str,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Spaced-seed window hashing over a batch of strings (see
    :func:`hash_ngrams_spaced_from_buffers`)."""
    buf, offsets = _flatten_utf8(strings)
    return hash_ngrams_spaced_from_buffers(buf, offsets, pattern, num_hashes, seeds=seeds)


def hash_ngrams_spaced_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    pattern: str,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Spaced-seed window hashing (NTS64/NTMS64 analog,
    vendor/nthash.hpp:750-878): only the '1' positions of the pattern
    contribute to the hash, so sequences differing at masked positions
    collide on purpose (skip-gram matching).

    base(t) = rol( XOR_{j in care} u[t+j], (t+k-1) mod 64 )  with
    u[p] = ror(seed[b[p]], p) — the same closed form as the dense
    rolling hash restricted to care offsets: |care| vectorized XOR
    passes instead of one prefix-XOR.  Consumes the Arrow UTF-8
    buffer/offset layout zero-copy.
    """
    seeds = _SEEDS if seeds is None else seeds
    k = len(pattern)
    care = parse_seed(pattern)
    n = buf.shape[0]
    if n < k:
        return np.empty((0, num_hashes), dtype=np.uint64), np.empty(0, dtype=np.int64)
    pos = _positions(n)
    s = _scratch("sp_s", n)
    np.take(seeds, buf, out=s)
    u = _scratch("sp_u", n)
    tmp = _scratch("sp_tmp", n)
    _ror_into(s, pos, u, tmp)
    nw = n - k + 1
    w = np.zeros(nw, dtype=np.uint64)
    for j in care:
        np.bitwise_xor(w, u[j : j + nw], out=w)
    r = _scratch("sp_r", nw)
    np.add(_positions(nw), _U64((k - 1) % 64), out=r)
    np.bitwise_and(r, _MASK6, out=r)
    np.subtract(_U64(64), r, out=r)
    np.bitwise_and(r, _MASK6, out=r)
    out = np.empty(nw, dtype=np.uint64)
    t2 = _scratch("sp_t2", nw)
    _ror_into(w, r, out, t2)
    starts = np.arange(nw, dtype=np.int64)
    row_of_pos = np.searchsorted(offsets, starts, side="right") - 1
    valid = starts + k <= offsets[row_of_pos + 1]
    return nte64(out[valid], num_hashes, k), row_of_pos[valid]


def hash_ngrams_spaced_canonical_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    pattern: str,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
    comp: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical spaced-seed window hashing with the strand flag — the
    NTMS64 canonical variant (vendor/nthash.hpp:775-820: per-seed
    fsVal/rsVal, hStn[j] = rsVal < fsVal, hash = min).

    The reverse-complement spaced fold over window t is

        rc(t) = XOR_{i in care} rol(cseed[b[t+k-1-i]], k-1-i)
              = ror( XOR_{j in rev(care)} v[t+j], t mod 64 )

    with v[p] = rol(seed[comp(b[p])], p) and rev(care) = {k-1-c} — the
    same closed form as the dense rc hash restricted to the REVERSED
    care set.  Strand neutrality (seq and its reverse complement
    hashing identically) holds only for SYMMETRIC patterns
    (care == rev(care)); asymmetric patterns are refused, mirroring
    the reference's symmetric-seed assertion (MIBloomFilter.hpp:437).

    Returns ((W, num_hashes) uint64, (W,) rows, (W,) strand bool).
    """
    seeds = _SEEDS if seeds is None else seeds
    comp = DNA_COMPLEMENT if comp is None else comp
    k = len(pattern)
    care = parse_seed(pattern)
    rev_care = np.sort(k - 1 - care)
    if not np.array_equal(care, rev_care):
        raise ValueError(
            f"canonical spaced-seed hashing requires a symmetric pattern "
            f"(care == reversed care); got {pattern!r}"
        )
    n = buf.shape[0]
    if n < k:
        return (
            np.empty((0, num_hashes), dtype=np.uint64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=bool),
        )
    pos = _positions(n)
    nw = n - k + 1
    # forward spaced fold (same passes as hash_ngrams_spaced_from_buffers)
    s = _scratch("spc_s", n)
    np.take(seeds, buf, out=s)
    u = _scratch("spc_u", n)
    tmp = _scratch("spc_tmp", n)
    _ror_into(s, pos, u, tmp)
    wf = np.zeros(nw, dtype=np.uint64)
    for j in care:
        np.bitwise_xor(wf, u[j : j + nw], out=wf)
    r = _scratch("spc_r", nw)
    np.add(_positions(nw), _U64((k - 1) % 64), out=r)
    np.bitwise_and(r, _MASK6, out=r)
    np.subtract(_U64(64), r, out=r)
    np.bitwise_and(r, _MASK6, out=r)
    fwd = np.empty(nw, dtype=np.uint64)
    t2 = _scratch("spc_t2", nw)
    _ror_into(wf, r, fwd, t2)
    # reverse-complement spaced fold
    cs = _scratch("spc_cs", n)
    np.take(seeds[comp], buf, out=cs)
    v = _scratch("spc_v", n)
    rr = _scratch("spc_rr", n)
    np.subtract(_U64(64), pos, out=rr)
    np.bitwise_and(rr, _MASK6, out=rr)
    _ror_into(cs, rr, v, tmp)  # v = rol(cseed, pos)
    wr = np.zeros(nw, dtype=np.uint64)
    for j in rev_care:
        np.bitwise_xor(wr, v[j : j + nw], out=wr)
    rev = np.empty(nw, dtype=np.uint64)
    _ror_into(wr, _positions(nw), rev, t2)  # ror by window start
    strand = rev < fwd
    base = np.where(strand, rev, fwd)
    starts = np.arange(nw, dtype=np.int64)
    row_of_pos = np.searchsorted(offsets, starts, side="right") - 1
    valid = starts + k <= offsets[row_of_pos + 1]
    return nte64(base[valid], num_hashes, k), row_of_pos[valid], strand[valid]


def hash_ngrams_multi_seed_canonical_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    patterns: list[str],
    *,
    seeds: np.ndarray | None = None,
    comp: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical multi-spaced-seed hashing over the Arrow UTF-8 layout
    (stHashIterator canonical layout): per window, one canonical hash
    AND one strand flag per seed pattern — (W, n_seeds) hashes, (W,)
    rows, (W, n_seeds) strand.  All patterns must be symmetric (see
    the single-seed kernel)."""
    if len({len(p) for p in patterns}) != 1:
        raise ValueError("all seed patterns must share one length")
    blocks, strands = [], []
    rows = None
    for p in patterns:
        h, r, st = hash_ngrams_spaced_canonical_from_buffers(buf, offsets, p, 1, seeds=seeds, comp=comp)
        blocks.append(h)
        strands.append(st)
        rows = r
    return (
        np.concatenate(blocks, axis=1),
        rows if rows is not None else np.empty(0, dtype=np.int64),
        np.stack(strands, axis=1)
        if strands and strands[0].size
        else np.empty((0, len(patterns)), dtype=bool),
    )


def hash_ngrams_multi_seed_canonical(
    strings, patterns: list[str], *, seeds: np.ndarray | None = None, comp: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical multi-spaced-seed hashing over a batch of strings."""
    buf, offsets = _flatten_utf8(strings)
    return hash_ngrams_multi_seed_canonical_from_buffers(buf, offsets, patterns, seeds=seeds, comp=comp)


def hash_ngrams_multi_seed(
    strings, patterns: list[str], num_hashes: int = 1, *, seeds: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Multi-spaced-seed hashing (stHashIterator layout,
    vendor/stHashIterator.hpp:157-160): per window emits
    [seed1·h1..hm, seed2·h1..hm, ...] — (W, len(patterns)*num_hashes)."""
    buf, offsets = _flatten_utf8(strings)
    return hash_ngrams_multi_seed_from_buffers(buf, offsets, patterns, num_hashes, seeds=seeds)


def hash_ngrams_multi_seed_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    patterns: list[str],
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Multi-spaced-seed hashing over a flat UTF-8 buffer (Arrow
    layout, zero-copy)."""
    if len({len(p) for p in patterns}) != 1:
        raise ValueError("all seed patterns must share one length")
    blocks = []
    rows = None
    for p in patterns:
        h, r = hash_ngrams_spaced_from_buffers(buf, offsets, p, num_hashes, seeds=seeds)
        blocks.append(h)
        rows = r
    return np.concatenate(blocks, axis=1), rows


def clz64(v: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (clz(0) == 64)."""
    v = np.asarray(v, dtype=np.uint64)
    bl = np.zeros(v.shape, dtype=np.uint64)  # bit length
    x = v.copy()
    for s in (32, 16, 8, 4, 2, 1):
        s64 = _U64(s)
        big = (x >> s64) != 0
        bl += big.astype(np.uint64) * s64
        x = np.where(big, x >> s64, x)
    bl += (x != 0).astype(np.uint64)
    return _U64(64) - bl
