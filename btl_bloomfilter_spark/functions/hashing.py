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
(proof in `_fold` docstring), so a whole Arrow batch of strings is
hashed with ~6 numpy passes over one flat byte buffer — the vectorized
equivalent of the reference's O(1) slide.

One fold, `_fold`, serves every k-gram mode.  Its two inputs, a care
set (spaced seeds; None = all k positions) and a direction (forward or
reverse complement), cover NTF64, NTR64 and NTS64, and their min is
the canonical NTC64/NTMS64 base.  `window_hashes` is the one mode
dispatch (whole string, k-gram, canonical, spaced, optionally with the
hStn strand flag) and `check_hash_mode` the one parameter check of
every hashing sketch's constructor.

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
    "hash_strings",
    "hash_tokens",
    "utf8_buffers",
    "window_hashes",
    "check_hash_mode",
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


# DNA complement (A<->T, C<->G, both cases); all other bytes map to
# themselves, so the canonical mode degrades gracefully on non-ACGT
# text (N handling mirrors the reference's convertTab fallthrough)
DNA_COMPLEMENT = np.arange(256, dtype=np.uint8)
for _a, _b in ((65, 84), (67, 71), (97, 116), (99, 103)):  # A/T C/G a/t c/g
    DNA_COMPLEMENT[_a], DNA_COMPLEMENT[_b] = np.uint8(_b), np.uint8(_a)


def _fold(
    buf: np.ndarray, k: int, seeds: np.ndarray, care: np.ndarray | None = None, rc: bool = False
) -> np.ndarray:
    """All n-k+1 window base-hashes of a flat byte buffer (n >= k), the
    one rolling fold behind every k-gram mode, vectorized.

    Forward (NTF64, nthash.hpp:394-416), window starting at absolute
    position p over bytes [p, p+k-1]:

        base(p) = rol(P[p+k-1] ^ P[p-1], (p + k - 1) mod 64)

    where P is the prefix-XOR of u[q] = ror(seed[buf[q]], q).

    Per-string offsets cancel: for a string starting at absolute o with
    local index t = p - o, the true hash is rol(U_local, t+k-1) with
    u_local[q] = ror(seed, q-o) = rol(u_abs[q], o); the o-rotation
    distributes over the XOR and combines with t+k-1 into the absolute
    amount p+k-1.  Hence one global pass serves every string in the
    batch; callers mask windows that span string boundaries
    (:func:`_window_rows`).

    ``rc=True`` folds the reverse complement of each window (NTR64,
    nthash.hpp:419-439):

        r(t) = XOR_{i=0..k-1} rol(seed[comp(b[t+i])], i)
             = ror( P[t+k-1] ^ P[t-1], t mod 64 )

    with P the prefix-XOR of v[p] = rol(seed[comp(b[p])], p) — the
    mirror of the forward closed form (rol in the elementwise pass,
    rotation by the window START), and equally position-independent.

    ``care`` (spaced seeds, NTS64/NTMS64, nthash.hpp:750-878) keeps only
    the pattern's '1' offsets, so sequences differing at masked
    positions collide on purpose (skip-gram matching):

        base(t) = rol( XOR_{j in care} u[t+j], (t+k-1) mod 64 )

    — the same closed form restricted to care offsets: |care| vectorized
    XOR passes instead of one prefix-XOR.  The reverse-complement fold
    over window t is

        rc(t) = XOR_{i in care} rol(cseed[b[t+k-1-i]], k-1-i)
              = ror( XOR_{j in rev(care)} v[t+j], t mod 64 )

    with rev(care) = {k-1-c}: the dense rc form restricted to the
    REVERSED care set.  Strand neutrality (a sequence and its reverse
    complement hashing identically) holds only for SYMMETRIC patterns
    (care == rev(care)), which :func:`check_hash_mode` enforces.
    """
    n = buf.shape[0]
    nw = n - k + 1
    pos = _positions(n)
    s = _scratch("rh_s", n)
    np.take(seeds[DNA_COMPLEMENT] if rc else seeds, buf, out=s)
    u = _scratch("rh_u", n)
    tmp = _scratch("rh_tmp", n)
    if rc:  # v = rol(s, pos) = ror(s, (64 - pos) & 63)
        rr = _scratch("rh_rr", n)
        np.subtract(_U64(64), pos, out=rr)
        np.bitwise_and(rr, _MASK6, out=rr)
        _ror_into(s, rr, u, tmp)
    else:
        _ror_into(s, pos, u, tmp)
    w = _scratch("rh_w", nw)
    if care is None:
        pre = _scratch("rh_pre", n + 1)
        pre[0] = 0
        np.bitwise_xor.accumulate(u, out=pre[1:])
        # w = pre[k:] ^ pre[:-k]
        np.bitwise_xor(pre[k : n + 1], pre[0:nw], out=w)
    else:
        w.fill(0)
        for j in (k - 1 - care) if rc else care:
            np.bitwise_xor(w, u[j : j + nw], out=w)
    out = np.empty(nw, dtype=np.uint64)
    t2 = _scratch("rh_t2", nw)
    if rc:
        _ror_into(w, _positions(nw), out, t2)  # ror by window start mod 64
        return out
    # rotation amount = (start + k - 1) mod 64; out = rol(w, r) = ror(w, (64 - r) & 63)
    r = _scratch("rh_r", nw)
    np.add(_positions(nw), _U64((k - 1) % 64), out=r)
    np.bitwise_and(r, _MASK6, out=r)
    np.subtract(_U64(64), r, out=r)
    np.bitwise_and(r, _MASK6, out=r)
    _ror_into(w, r, out, t2)
    return out


def _window_rows(offsets: np.ndarray, nw: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(valid, rows): the mask of the nw windows of length k that lie
    inside one row of ``offsets``, and the row of each valid window."""
    starts = np.arange(nw, dtype=np.int64)
    row_of_pos = np.searchsorted(offsets, starts, side="right") - 1
    valid = starts + k <= offsets[row_of_pos + 1]
    return valid, row_of_pos[valid]


def check_hash_mode(
    k: int, spaced_seeds: list[str] | None, canonical: bool, hash_num: int | None = None
) -> int:
    """Refuse an inconsistent hashing mode with ``ValueError``; returns
    the window length (the pattern length in spaced mode, else ``k``).
    ``hash_num`` (a sketch's hash count) must equal the number of
    spaced seeds when given."""
    if not spaced_seeds:
        if canonical and k <= 0:
            raise ValueError("canonical hashing requires k-gram mode (k > 0)")
        return k
    if len({len(p) for p in spaced_seeds}) != 1:
        raise ValueError("all spaced seeds must share one length")
    if k and k != len(spaced_seeds[0]):
        raise ValueError("k must equal the spaced-seed pattern length")
    if hash_num is not None and hash_num != len(spaced_seeds):
        raise ValueError("hash_num must equal the number of spaced seeds")
    if canonical:
        # canonical spaced mode (NTMS64 canonical): strand neutrality
        # needs symmetric care sets — the analog of the reference's
        # symmetric-seed assertion (MIBloomFilter.hpp:437)
        for p in spaced_seeds:
            care = parse_seed(p)
            if not (care == (len(p) - 1 - care)[::-1]).all():
                raise ValueError(f"canonical spaced-seed mode requires symmetric patterns; {p!r} is not")
    return len(spaced_seeds[0])


def window_hashes(
    buf: np.ndarray,
    offsets: np.ndarray,
    *,
    k: int,
    num_hashes: int,
    spaced_seeds: list[str] | None = None,
    canonical: bool = False,
    strand: bool = False,
    seeds: np.ndarray | None = None,
):
    """(hashes, row ids) of every element of a (buf, offsets) batch under
    one hashing mode — the one mode dispatch of the library.

    ``offsets`` (int64, len n_rows+1, offsets[0] == 0) delimits rows in
    ``buf`` — exactly the Arrow UTF-8 layout, so Arrow batches hash
    zero-copy.  Modes:

    * whole string (``k == 0``, no spaced seeds): one element per row;
    * k-gram (``k > 0``): every k-byte window inside a row, the
      ntHashIterator walk (vendor/ntHashIterator.hpp:59-86) batched;
      rows shorter than k yield no windows;
    * ``canonical``: per window min(forward, reverse-complement) base
      (NTC64, nthash.hpp:460-479), so a sequence and its reverse
      complement hash identically;
    * ``spaced_seeds``: one base per '1'/'0' pattern (window length =
      pattern length), each fanned out to ``num_hashes`` columns — the
      stHashIterator layout [seed1·h1..hm, seed2·h1..hm, ...]
      (vendor/stHashIterator.hpp:157-160); combines with ``canonical``.

    Every base fans out by NTE64 (:func:`nte64`): (W, num_hashes)
    hashes, (W, n_seeds·num_hashes) in spaced mode.  ``strand=True``
    (canonical only) also returns hStn, True where the
    reverse-complement fold won the min (nthash.hpp:695-713,775-820):
    (W, 1) for canonical k-gram, (W, n_seeds) for canonical spaced.
    """
    seeds = _SEEDS if seeds is None else seeds
    k = check_hash_mode(k, spaced_seeds, canonical)
    if strand and not canonical:
        raise ValueError("strand=True requires canonical hashing")
    if k <= 0:
        hashes = hash_strings_from_buffers(buf, offsets, num_hashes, seeds=seeds)
        return hashes, np.arange(offsets.size - 1, dtype=np.int64)
    cares = [parse_seed(p) for p in spaced_seeds] if spaced_seeds else [None]
    nw = buf.shape[0] - k + 1
    if nw <= 0:
        hashes = np.empty((0, len(cares) * num_hashes), dtype=np.uint64)
        rows = np.empty(0, dtype=np.int64)
        return (hashes, rows, np.empty((0, len(cares)), dtype=bool)) if strand else (hashes, rows)
    valid, rows = _window_rows(offsets, nw, k)
    blocks, strands = [], []
    for care in cares:
        base = _fold(buf, k, seeds, care)
        if canonical:
            rev = _fold(buf, k, seeds, care, rc=True)
            if strand:
                strands.append((rev < base)[valid])  # hStn (nthash.hpp:712)
            base = np.minimum(base, rev)
        blocks.append(nte64(base[valid], num_hashes, k))
    hashes = blocks[0] if len(blocks) == 1 else np.concatenate(blocks, axis=1)
    return (hashes, rows, np.stack(strands, axis=1)) if strand else (hashes, rows)


def hash_ngrams_from_buffers(
    buf: np.ndarray,
    offsets: np.ndarray,
    k: int,
    num_hashes: int = 1,
    *,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """k-gram mode of :func:`window_hashes` (``k >= 1``): ((W,
    num_hashes) hashes, (W,) row ids)."""
    return window_hashes(buf, offsets, k=k, num_hashes=num_hashes, seeds=seeds)


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
    ``bytes``/``bytearray`` kept as raw bytes (hashed like the string
    they decode to, never as their repr), other non-strings → ``str(v)``.
    Arrow arrays, chunked ones too, are read by ``to_pylist`` (a
    ChunkedArray has no ``tolist``, and iterating it yields Arrow
    scalars, whose null would read ``"None"``)."""
    to_list = getattr(values, "to_pylist", None) or getattr(values, "tolist", None)
    out = []
    for v in (to_list() if to_list else values):
        out.append(v if isinstance(v, (str, bytes, bytearray)) else ("" if v is None else str(v)))
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
    # pooled scratch (same rationale as _fold): this is the
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
    valid, rows = _window_rows(row_offsets, nw, n)
    return base[valid], rows


def hash_tokens(token_lists, n: int, num_hashes: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """Hash word n-grams: each n-gram is the '\\x1f'-joined token window.

    token_lists: sequence of lists of tokens. Returns (hashes, row_ids)
    like :func:`window_hashes`.
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
