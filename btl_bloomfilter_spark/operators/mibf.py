"""Multi-Index Bloom Filter (miBF): sketch-based ID classification.

Re-expression of `MIBloomFilter.hpp` + `MIBFConstructSupport.hpp` +
`MIBFQuerySupport.hpp`: a rank-compressed bit vector over m bits plus
a dense ID array of length popcount(bits); querying an element probes
its h positions and reads back the stored reference IDs, classifying
which reference the element came from.

Distributed 3-pass build (mirrors the reference's 3 barrier-separated
passes, MIBFConstructSupport.hpp:49-141):

  pass 1  insertBV    — plain Bloom build over every element of every
                        reference (plans.agg.build_sketch, OR-merge →
                        bit-exact, MIBloomFilter.hpp:94-104)
  freeze  getEmptyMIBF — driver computes the rank LUT (cumulative
                        popcount per 64-byte block, the analog of the
                        512-bit interleaved rank of
                        MIBloomFilter.hpp:44,122-147)
  pass 2  insertMIBF  — every (rank_pos, id) occurrence shuffles to a
                        groupBy(rank_pos); the winner is chosen by a
                        DETERMINISTIC count-weighted reservoir
                        (Efraimidis-Spirakis key u^(1/c) with
                        u = hash(pos ^ id)): associative and
                        order-independent, replacing the reference's
                        fetch-add races (MIBFConstructSupport.hpp:
                        109-130; nondeterminism admitted at
                        MIBloomFilter.hpp:92-93 — our rule is a
                        documented deterministic refinement)
  repair  setSatIfMissing — elements whose ID survived nowhere first
                        try to overwrite a slot whose stored ID is
                        duplicated within the same frame (deterministic
                        batch analog of MIBFConstructSupport.hpp:
                        168-214; see build_mibf docstring)
  pass 3  saturation  — elements whose ID survives at none of their h
                        frames get the saturation MSB set (sticky OR,
                        MIBFConstructSupport.hpp:132-141,
                        MIBloomFilter.hpp:36-42,440-446)

Driver traffic is O(m + popcount) blobs only: the winner/saturation
sets are densified into uint32 range-slices by reduce tasks
(_assemble_u32 reduce-scatter) — never one row per set bit.

Query (MIBFQuerySupport.hpp:94-130,397-518, vectorized): probe all
windows of a string, tally per-ID frame counts, return the top
candidate with counts + saturation stats.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..functions import hashing as H
from .base import Sketch
from .bloom import BloomFilter

# stolen top bits of the stored ID word (MIBloomFilter.hpp:36-42):
# MSB = saturation (s_mask), MSB-1 = strand (s_strand); query tallies
# mask with s_antiMask only (MIBFQuerySupport.hpp:489-493), so in
# strand mode a candidate "id" carries the strand bit — exactly the
# reference behavior
SAT_BIT = np.uint32(1 << 31)
ID_MASK = np.uint32((1 << 31) - 1)  # s_antiMask
STRAND_BIT = np.uint32(1 << 30)  # s_strand
ANTI_STRAND = np.uint32(~(1 << 30) & 0xFFFFFFFF)  # s_antiStrand
ID_MASK_STRAND = np.uint32((1 << 30) - 1)  # s_idMask

_POP_LUT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint32)


def _minstd_shuffle(order: list[int], seed: int) -> None:
    """In-place Fisher-Yates driven by the minstd LCG (x ← 48271·x mod
    2³¹−1, the generator behind std::minstd_rand) — the deterministic
    hash-seeded insertion order of MIBloomFilter.hpp:406-408."""
    m = 2147483647
    x = seed % m
    if x == 0:
        x = 1
    for j in range(len(order) - 1, 0, -1):
        x = (x * 48271) % m
        i = x % (j + 1)
        order[i], order[j] = order[j], order[i]


def _tally_numpy(sub) -> "pd.DataFrame":
    """CountResult tally (MIBFQuerySupport.hpp:430-504) as pure numpy
    segment reduces — stage 1 per (frame, id) slot roll-up (frame is a
    GLOBAL index, so it encodes row), stage 2 per (row, id) frame
    roll-up into the six counters.  Output rows are ordered by FIRST
    OCCURRENCE of (row, id) in ``sub`` order — byte-identical to the
    pandas groupby(sort=False) chain it replaces (pinned by the tally
    parity test); order matters because summarize's best selection
    keeps the first of ties."""
    import pandas as pd

    row = sub["row"].to_numpy(np.int64)
    frame = sub["frame"].to_numpy(np.int64)
    ids = sub["id"].to_numpy(np.int64)
    nonsat = sub["slot_nonsat"].to_numpy(bool)
    fsat = sub["frame_sat"].to_numpy(bool)
    miss0 = sub["miss0"].to_numpy(bool)
    n = row.size
    cols6 = ["count", "solidCount", "nonSatCount", "nonSatFrameCount", "totalCount", "totalNonSatCount"]
    if n == 0:
        return pd.DataFrame(
            {c: np.empty(0, dtype=np.int64) for c in ["row", "id"] + cols6}
        )
    orig = np.arange(n, dtype=np.int64)

    # stage 1: group by (frame, id)
    o1 = np.lexsort((ids, frame))
    f1, i1 = frame[o1], ids[o1]
    new1 = np.empty(n, dtype=bool)
    new1[0] = True
    np.logical_or(np.diff(f1) != 0, np.diff(i1) != 0, out=new1[1:])
    s1 = np.flatnonzero(new1)
    slots = np.diff(np.concatenate([s1, [n]]))
    nonsat_slots = np.add.reduceat(nonsat[o1].astype(np.int64), s1)
    g_row = row[o1][s1]
    g_id = i1[s1]
    g_fsat = fsat[o1][s1]
    g_miss0 = miss0[o1][s1]
    first1 = np.minimum.reduceat(orig[o1], s1)

    # solidCount (MIBFQuerySupport.hpp:500-504): frames with NO
    # saturated slot and NO misses
    has_nonsat = (nonsat_slots > 0).astype(np.int64)
    nonsat_frame = (~g_fsat).astype(np.int64)
    solid_frame = ((~g_fsat) & g_miss0).astype(np.int64)

    # stage 2: group by (row, id)
    m = g_row.size
    o2 = np.lexsort((g_id, g_row))
    r2, i2 = g_row[o2], g_id[o2]
    new2 = np.empty(m, dtype=bool)
    new2[0] = True
    np.logical_or(np.diff(r2) != 0, np.diff(i2) != 0, out=new2[1:])
    s2 = np.flatnonzero(new2)

    def seg(a):
        return np.add.reduceat(a[o2], s2)

    out = {
        "row": r2[s2],
        "id": i2[s2],
        "count": np.diff(np.concatenate([s2, [m]])),
        "solidCount": seg(solid_frame),
        "nonSatCount": seg(has_nonsat),
        "nonSatFrameCount": seg(nonsat_frame),
        "totalCount": seg(slots),
        "totalNonSatCount": seg(nonsat_slots),
    }
    order = np.argsort(np.minimum.reduceat(first1[o2], s2), kind="stable")
    return pd.DataFrame({k: v[order] for k, v in out.items()})


class MIBloomFilter(Sketch):
    """Driver-side finished miBF (broadcastable for query)."""

    def __init__(
        self,
        m_bits: int,
        hash_num: int,
        k: int,
        *,
        seed_salt: int = 0,
        spaced_seeds: list[str] | None = None,
        canonical: bool = False,
    ):
        self.m_bits = int(m_bits)
        self.hash_num = int(hash_num)
        self.k = int(k)
        self.seed_salt = int(seed_salt)
        # canonical (strand-neutral) hashing — NTC64 mode of the
        # reference's ntHashIterator-driven miBF
        self.canonical = bool(canonical)
        # spaced-seed mode (the reference miBF's primary mode for
        # downstream tools: stHashIterator, one hash per seed pattern;
        # MIBloomFilter.hpp:49-61,126-139); combined with canonical it
        # is the NTMS64 canonical mode (per-seed min(fwd, rc) + per-seed
        # strand, nthash.hpp:775-820) — symmetric patterns required
        self.spaced_seeds = list(spaced_seeds) if spaced_seeds else None
        if H.check_hash_mode(self.k, self.spaced_seeds, self.canonical, self.hash_num) != self.k:
            # stricter than BloomFilter: k = 0 does not stand for the pattern length
            raise ValueError("k must equal the spaced-seed pattern length")
        self.bits = np.zeros(self.m_bits // 8, dtype=np.uint8)
        self.block_rank = np.zeros(1, dtype=np.int64)  # cum popcount per 64B block
        self.data = np.zeros(0, dtype=np.uint32)
        self._seeds = H.seed_table(self.seed_salt)

    BLOCK = 64  # bytes per rank block (≈ the reference's 512-bit blocks)

    def params(self) -> dict[str, Any]:
        out = {"m_bits": self.m_bits, "hash_num": self.hash_num, "k": self.k, "seed_salt": self.seed_salt}
        if self.spaced_seeds:
            out["spaced_seeds"] = list(self.spaced_seeds)
        if self.canonical:
            out["canonical"] = True
        return out

    # -- rank machinery ----------------------------------------------
    def freeze(self, bits: np.ndarray) -> None:
        """getEmptyMIBF analog: store bits, build rank LUT, alloc data."""
        self.bits = bits
        per_byte = _POP_LUT[bits].astype(np.int64)
        blocks = per_byte.reshape(-1, self.BLOCK) if bits.size % self.BLOCK == 0 else None
        if blocks is None:
            pad = (-bits.size) % self.BLOCK
            per_byte = np.concatenate([per_byte, np.zeros(pad, dtype=np.int64)])
            blocks = per_byte.reshape(-1, self.BLOCK)
        block_pop = blocks.sum(axis=1)
        self.block_rank = np.concatenate([[0], np.cumsum(block_pop)])
        self._byte_cum = np.concatenate([[0], np.cumsum(_POP_LUT[bits].astype(np.int64))])
        self.data = np.zeros(int(self._byte_cum[-1]), dtype=np.uint32)

    def _ensure_byte_cum(self):
        if not hasattr(self, "_byte_cum"):
            self._byte_cum = np.concatenate([[0], np.cumsum(_POP_LUT[self.bits].astype(np.int64))])

    def rank_pos(self, idx: np.ndarray) -> np.ndarray:
        """Rank (number of set bits strictly before) for SET positions
        (getRankPos, MIBloomFilter.hpp:646-655)."""
        self._ensure_byte_cum()
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        bit_in = (idx & np.uint64(7)).astype(np.uint8)
        before_mask = ((np.uint16(1) << bit_in) - 1).astype(np.uint8)
        within = _POP_LUT[self.bits[byte_idx] & before_mask].astype(np.int64)
        return self._byte_cum[byte_idx] + within

    def _probe(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(all_set per window, idx per window-hash)."""
        idx = hashes % np.uint64(self.m_bits)
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        got = (self.bits[byte_idx] >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        return got.all(axis=1), idx

    def _probe_miss(self, hashes: np.ndarray, allowed_misses: int):
        """atRank with maxMiss (MIBloomFilter.hpp:478-498): a frame
        matches when at most allowed_misses of its h slots are unset.
        Returns (present (W,), idx (W,h), hits (W,h) bool)."""
        idx = hashes % np.uint64(self.m_bits)
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        got = (
            (self.bits[byte_idx] >> (idx & np.uint64(7)).astype(np.uint8)) & np.uint8(1)
        ).astype(bool)
        misses = self.hash_num - got.sum(axis=1)
        return misses <= allowed_misses, idx, got

    # -- hashing -----------------------------------------------------
    def _windows(self, values, strand: bool = False):
        """((W, h) frame hashes, row_ids) of a string batch; with
        ``strand=True`` (canonical filters) also each frame's hStn —
        (W, 1) for canonical k-gram, (W, h) per seed for canonical
        spaced (stHashIterator's bool* layout)."""
        buf, offsets = H.utf8_buffers(values)
        return H.window_hashes(
            buf,
            offsets,
            k=self.k,
            num_hashes=1 if self.spaced_seeds else self.hash_num,
            spaced_seeds=self.spaced_seeds,
            canonical=self.canonical,
            strand=strand,
            seeds=self._seeds,
        )

    # -- query (vectorized MIBFQuerySupport.query) --------------------
    def classify_batch(self, values, *, allowed_misses: int = 0) -> pd.DataFrame:
        """Per string: best_id, its frame count, total frames,
        saturated fraction (summarizeCandiates analog: top candidate
        by frame count, ties → smaller id; MIBFQuerySupport.hpp:230-246
        first sort key ≈ count).  ``allowed_misses`` tolerates frames
        with up to that many unset slots (spaced-seed query mode,
        MIBloomFilter.hpp:478-498); missed slots contribute no IDs."""
        hashes, rows = self._windows(values)
        n = len(values)
        out = {
            "best_id": np.full(n, -1, dtype=np.int64),
            "frames": np.zeros(n, dtype=np.int64),
            "total_frames": np.zeros(n, dtype=np.int64),
            "saturated_frac": np.zeros(n, dtype=np.float64),
        }
        if hashes.shape[0]:
            present, idx, hits = self._probe_miss(hashes, allowed_misses)
            np.add.at(out["total_frames"], rows, 1)
            if present.any():
                pr = np.flatnonzero(present)
                hitm = hits[pr]
                # zero miss-slot positions BEFORE ranking: the rank of
                # an unset bit past the last set bit equals data.size
                # and would gather out of bounds
                rpos = self.rank_pos(np.where(hitm, idx[pr], np.uint64(0)))
                words = self.data[rpos]
                ids = np.where(hitm, (words & ID_MASK).astype(np.int64), 0)  # (W', h)
                sat = ((words & SAT_BIT) != 0) & hitm
                # per-frame candidate ids: every id seen at the h slots
                frame_rows = np.repeat(rows[pr], self.hashes_per_frame())
                flat_ids = ids.ravel()
                sat_frac = np.zeros(n, dtype=np.float64)
                np.add.at(sat_frac, rows[pr], sat.any(axis=1).astype(np.float64))
                with np.errstate(invalid="ignore", divide="ignore"):
                    out["saturated_frac"] = np.where(
                        out["total_frames"] > 0, sat_frac / np.maximum(out["total_frames"], 1), 0.0
                    )
                # count frames per (row, id): dedupe id within a frame first
                frame_idx = np.repeat(np.arange(len(pr)), self.hashes_per_frame())
                key = pd.DataFrame({"frame": frame_idx, "row": frame_rows, "id": flat_ids})
                key = key[key["id"] > 0].drop_duplicates(["frame", "id"])
                if len(key):
                    counts = key.groupby(["row", "id"]).size().reset_index(name="c")
                    counts = counts.sort_values(["row", "c", "id"], ascending=[True, False, True])
                    best = counts.drop_duplicates("row", keep="first")
                    out["best_id"][best["row"].to_numpy()] = best["id"].to_numpy()
                    out["frames"][best["row"].to_numpy()] = best["c"].to_numpy()
        return pd.DataFrame(out)

    def hashes_per_frame(self) -> int:
        return self.hash_num

    def classify_full(
        self,
        values,
        *,
        min_count: "int | dict[int, int]" = 0,
        extra_count: float = 1.0,
        best_hit_agree: bool = True,
        frame_probs: dict[int, float] | None = None,
        extra_frame_limit: int | None = None,
        allowed_misses: int = 0,
    ) -> list[list]:
        """Full MIBFQuerySupport.query pipeline per string: per-ID
        CountResult tallies (MIBFQuerySupport.hpp:430-518) →
        summarizeCandiates (stat-tie filter + 7-key sort + best-hit
        veto, :555-596).  Returns a list of QueryResult lists (one per
        input string), best first.

        ``extra_frame_limit`` enables the reference's early-exit
        (MIBFQuerySupport.hpp:509-517): stop scanning a string's
        frames once the best candidate's nonSatFrameCount exceeds the
        runner-up's decisively (no √count overlap between the best's
        totalNonSatCount and the runner-up frame count) for a full
        window of extra_frame_limit+1 frames.  Batch deviation
        (documented): the exit is a SNAPSHOT-BASED APPROXIMATION of
        the reference's per-frame counter.  The vectorized analog
        checks cumulative tallies at chunk boundaries of
        extra_frame_limit+1 frames and exits only after TWO
        consecutive decisive checks with the SAME winning candidate —
        so an exit is never triggered by less than a full chunk of
        decisive history, but intermediate frames between the two
        snapshots are not individually verified: a transient overlap
        frame that would reset the reference's counter can be masked
        by the surrounding chunk, so the batch exit may fire on rows
        the reference would keep scanning.  Counts always reflect
        exactly the scanned prefix, like the reference."""
        hashes, rows = self._windows(values)
        return self._classify_frames(
            hashes,
            rows,
            len(values),
            min_count=min_count,
            extra_count=extra_count,
            best_hit_agree=best_hit_agree,
            frame_probs=frame_probs,
            extra_frame_limit=extra_frame_limit,
            allowed_misses=allowed_misses,
        )

    def classify_full_paired(
        self,
        pairs,
        *,
        min_count: "int | dict[int, int]" = 0,
        extra_count: float = 1.0,
        best_hit_agree: bool = True,
        frame_probs: dict[int, float] | None = None,
        extra_frame_limit: int | None = None,
        allowed_misses: int = 0,
    ) -> list[list]:
        """Two-iterator query (MIBFQuerySupport.hpp:111-130): per input
        PAIR of sequences (e.g. paired-end reads), frames from the two
        iterators are consumed ALTERNATELY (itr1 on even frame counts,
        itr2 on odd) until one exhausts, then the survivor drains —
        one combined candidate tally per pair.  With
        ``extra_frame_limit`` the early-exit scans this interleaved
        stream, so a decisive candidate stops BOTH iterators, exactly
        like the reference's shared while-loop.  Without it the tally
        is order-independent and equals classify_full over the frame
        multiset union."""
        seqs1 = [a for a, _ in pairs]
        seqs2 = [b for _, b in pairs]
        n = len(pairs)
        h1, r1 = self._windows(seqs1)
        h2, r2 = self._windows(seqs2)
        n1 = np.bincount(r1, minlength=n) if r1.size else np.zeros(n, dtype=np.int64)
        n2 = np.bincount(r2, minlength=n) if r2.size else np.zeros(n, dtype=np.int64)
        # interleaved frame position: alternation while both iterators
        # live (itr1 → even slots, itr2 → odd), then the survivor runs
        # consecutively (derived from the reference's frameCount loop)
        off1 = np.concatenate([[0], np.cumsum(n1)[:-1]])
        i1 = np.arange(r1.size, dtype=np.int64) - off1[r1] if r1.size else np.empty(0, np.int64)
        pos1 = np.where(i1 < n2[r1], 2 * i1, n2[r1] + i1) if r1.size else i1
        off2 = np.concatenate([[0], np.cumsum(n2)[:-1]])
        j2 = np.arange(r2.size, dtype=np.int64) - off2[r2] if r2.size else np.empty(0, np.int64)
        pos2 = np.where(j2 < n1[r2], 2 * j2 + 1, n1[r2] + j2) if r2.size else j2
        h = self.hashes_per_frame()
        hashes = np.vstack([h1.reshape(-1, h), h2.reshape(-1, h)])
        rows = np.concatenate([r1, r2])
        pos = np.concatenate([pos1, pos2])
        order = np.lexsort((pos, rows))
        return self._classify_frames(
            hashes[order],
            rows[order],
            n,
            min_count=min_count,
            extra_count=extra_count,
            best_hit_agree=best_hit_agree,
            frame_probs=frame_probs,
            extra_frame_limit=extra_frame_limit,
            allowed_misses=allowed_misses,
        )

    def _classify_frames(
        self,
        hashes: np.ndarray,
        rows: np.ndarray,
        n: int,
        *,
        min_count,
        extra_count: float,
        best_hit_agree: bool,
        frame_probs,
        extra_frame_limit,
        allowed_misses: int,
    ) -> list[list]:
        """Shared tally/summarize core over a (row-ordered) frame
        stream — classify_full feeds window order, classify_full_paired
        feeds the two-iterator interleave."""
        from .mibf_query import summarize_candidates_batch

        if frame_probs is None:
            from .mibf_query import calc_frame_probs

            frame_probs, _ = calc_frame_probs(self)
        results: list[list] = [[] for _ in range(n)]
        if hashes.shape[0] == 0:
            return results
        present, idx, hits = self._probe_miss(hashes, allowed_misses)
        pr = np.flatnonzero(present)
        if pr.size == 0:
            return results
        hitm = hits[pr]
        # miss-slot positions are zeroed before ranking (see classify_batch)
        rpos = self.rank_pos(np.where(hitm, idx[pr], np.uint64(0)))
        words = self.data[rpos]
        ids = np.where(hitm, (words & ID_MASK).astype(np.int64), 0)  # (F, h)
        sat = ((words & SAT_BIT) != 0) & hitm
        h = self.hash_num
        frame_miss0 = hitm.all(axis=1)  # no misses in frame (solidCount gate)
        row_of_frame = rows[pr]  # nondecreasing
        # position of each present frame within its row (for chunking)
        starts = np.concatenate([[0], np.flatnonzero(np.diff(row_of_frame)) + 1])
        seg_lens = np.diff(np.concatenate([starts, [pr.size]]))
        seq_of_frame = np.arange(pr.size) - np.repeat(starts, seg_lens)
        frame_idx = np.repeat(np.arange(pr.size), h)
        frame_rows = np.repeat(row_of_frame, h)
        frame_sat_any = sat.any(axis=1)
        df = pd.DataFrame(
            {
                "row": frame_rows,
                "frame": frame_idx,
                "seq": np.repeat(seq_of_frame, h),
                "id": ids.ravel(),
                "slot_nonsat": ~sat.ravel(),
                "frame_sat": frame_sat_any[frame_idx],
                "miss0": frame_miss0[frame_idx],
            }
        )
        df = df[df["id"] > 0]
        if not len(df):
            return results

        # numpy segment-reduce tally (profiling showed the previous
        # two-stage pandas groupby spent most of its time in block
        # consolidation/copies); group ORDER is preserved exactly —
        # first-occurrence of (row, id) in df order, the same order
        # pandas groupby(sort=False) produced — because the order
        # feeds summarize's first-of-ties best selection
        _tally = _tally_numpy

        if extra_frame_limit is None:
            tall = _tally(df)
        else:
            chunk = max(1, extra_frame_limit + 1)
            active = np.ones(n, dtype=bool)
            # decisive chunk-boundary streak per row: the reference
            # requires decisiveness SUSTAINED for extraFrameLimit+1
            # consecutive frames (counter reset on overlap,
            # MIBFQuerySupport.hpp:509-517); the batch analog requires
            # the decisive condition, WITH THE SAME winning candidate,
            # at TWO consecutive chunk checks — one decisive snapshot
            # alone covers < extra_frame_limit+1 frames of history and
            # could exit EARLIER than the reference; the same-id
            # requirement rejects streaks where the lead changed hands
            # between snapshots (which implies non-sustained
            # decisiveness in between).  Still an approximation: a
            # transient overlap frame INSIDE a chunk can be masked by
            # the chunk totals (see classify_full docstring)
            streak = np.zeros(n, dtype=np.int8)
            last_best = np.full(n, -1, dtype=np.int64)
            acc: pd.DataFrame | None = None
            cols = ["count", "solidCount", "nonSatCount", "nonSatFrameCount", "totalCount", "totalNonSatCount"]
            max_seq = int(df["seq"].max())
            for c in range(0, max_seq + 1, chunk):
                mask = (df["seq"] >= c) & (df["seq"] < c + chunk) & active[df["row"].to_numpy()]
                sub = df[mask]
                if not len(sub):
                    continue
                part = _tally(sub)
                acc = part if acc is None else (
                    pd.concat([acc, part]).groupby(["row", "id"], sort=False, as_index=False)[cols].sum()
                )
                # per-row decisiveness, fully vectorized: rank ids per
                # row by nonSatFrameCount, compare best vs runner-up
                srt = acc.sort_values(["row", "nonSatFrameCount"], ascending=[True, False], kind="stable")
                rk = srt.groupby("row", sort=False).cumcount().to_numpy()
                rows_s = srt["row"].to_numpy()
                nsfc = srt["nonSatFrameCount"].to_numpy(dtype=np.int64)
                tnsc = srt["totalNonSatCount"].to_numpy(dtype=np.int64)
                b_rows = rows_s[rk == 0]
                best_nsfc = nsfc[rk == 0]
                best_tnsc = tnsc[rk == 0]
                second = np.zeros(b_rows.size, dtype=np.int64)
                srow2 = rows_s[rk == 1]
                second[np.searchsorted(b_rows, srow2)] = nsfc[rk == 1]
                # compare_std_err(a, b): ±√count intervals overlap
                hi = np.maximum(best_tnsc, second)
                lo = np.minimum(best_tnsc, second)
                overlap = (hi - np.sqrt(hi)) <= (lo + np.sqrt(lo))
                decisive = (best_nsfc > second) & ~overlap
                b_ids = srt["id"].to_numpy(dtype=np.int64)[rk == 0]
                same = b_ids == last_best[b_rows]
                streak[b_rows] = np.where(
                    decisive & same, streak[b_rows] + 1, decisive.astype(np.int8)
                )
                last_best[b_rows] = np.where(decisive, b_ids, -1)
                active[b_rows[streak[b_rows] >= 2]] = False
            tall = acc if acc is not None else _tally(df.iloc[0:0])

        # vectorized summarizeCandiates over the whole tally table —
        # numpy segment reduces, no per-row pandas loop (the per-ID
        # dict min_count gate, MIBFQuerySupport.hpp:95, is applied
        # inside); parity with the reference loop is pinned by
        # test_mibf_query's batch-vs-loop test
        summarize_candidates_batch(
            tall,
            frame_probs,
            results,
            min_count=min_count,
            extra_count=extra_count,
            best_hit_agree=best_hit_agree,
        )
        return results

    def get_match_signature(self, seq: str):
        """Debug criteria op (MIBFQuerySupport.hpp:158-217): positions
        of seq's matching windows plus the per-slot hit pattern.

        Returns (match_pos (M,), ids (M, h), saturated (M, h),
        evaluated) — match_pos is the window start offset (the
        reference's itr.pos()), ids/saturated the processedResults
        (id, sat-bit) pairs per slot, evaluated the window count."""
        hashes, _ = self._windows([seq])
        evaluated = int(hashes.shape[0])
        h = self.hash_num
        if evaluated == 0:
            return (
                np.empty(0, np.int64),
                np.empty((0, h), np.int64),
                np.empty((0, h), bool),
                0,
            )
        present, idx = self._probe(hashes)
        pr = np.flatnonzero(present)
        rpos = self.rank_pos(idx[pr])
        words = self.data[rpos]
        return (
            pr.astype(np.int64),
            (words & ID_MASK).astype(np.int64),
            (words & SAT_BIT) != 0,
            evaluated,
        )

    # -- online insert (MIBloomFilter.hpp:375-438) ---------------------
    def insert_online(self, hashes: np.ndarray, value: int, max_count: int = 1) -> bool:
        """Incremental `insert(hashes, value, max)` port — the
        reference's public online API (MIBloomFilter.hpp:375-438):

        1. probe the h slots; slots already storing ``value`` count as
           placed; track whether every probed slot is saturated
        2. shuffle the remaining slot order with an LCG seeded by
           value XOR all hashes (deterministic hash-seeded order; the
           reference uses std::minstd_rand + std::shuffle — same
           generator, our Fisher-Yates is a documented deterministic
           analog since std::shuffle's exact draws are
           implementation-defined)
        3. claim empty slots in that order (setDataIfEmpty / setVal
           CAS, MIBloomFilter.hpp:770-779), stopping once ``max_count``
           placements exist
        4. if nothing could be placed and any probed slot is
           unsaturated → saturate all h slots and return False

        Precondition (as in the reference): the element's bits were
        set in the bit-vector pass.  This is a single-writer,
        partition-local mutation — two independently online-inserted
        miBFs do NOT merge associatively (first-writer-wins differs);
        use build_mibf's reservoir passes for bulk/distributed builds.
        """
        hashes = np.asarray(hashes, dtype=np.uint64).ravel()
        return self._claim(hashes, [int(value)] * hashes.size, value, max_count)

    def _claim(self, hashes: np.ndarray, words: list[int], value: int, max_count: int) -> bool:
        """The slot-claim loop of both online inserts (steps 1-4 of
        :meth:`insert_online`), storing ``words[i]`` in slot i."""
        idx = hashes % np.uint64(self.m_bits)
        rpos = self.rank_pos(idx[None, :])[0]
        count = 0
        saturated = True
        rand = int(value)
        order: list[int] = []
        for i in range(hashes.size):
            old = int(self.data[rpos[i]])
            if old & int(SAT_BIT):
                old &= int(ID_MASK)
            else:
                saturated = False
            if old == words[i]:
                count += 1
            else:
                order.append(i)
            if count >= max_count:
                return True
            rand = (rand ^ int(hashes[i])) & ((1 << 64) - 1)
        _minstd_shuffle(order, rand)
        for i in order:
            p = rpos[i]
            old = int(self.data[p])
            if old == 0:  # setDataIfEmpty / setVal CAS (MIBloomFilter.hpp:644)
                self.data[p] = words[i]
            if not (old & int(SAT_BIT)):
                saturated = False
            if old == 0:
                count += 1
            if count >= max_count:
                return True
        if count == 0:
            if not saturated:
                self.data[rpos] |= SAT_BIT  # saturate(hashes), hpp:440-446
            return False
        return True

    def insert_seq_online(self, text: str, value: int, max_count: int = 1) -> bool:
        """Online-insert every k-gram frame of ``text`` (the per-read
        loop downstream tools drive insert() with).  Returns True iff
        every frame placed/found its ID."""
        hashes, _ = self._windows([text])
        ok = True
        for w in range(hashes.shape[0]):
            ok &= self.insert_online(hashes[w], value, max_count)
        return ok

    # -- strand-aware surface (MIBloomFilter.hpp:36-42,309-373) ---------
    def insert_online_strand(
        self, hashes: np.ndarray, strand, value: int, max_count: int = 1
    ) -> bool:
        """Strand-tracking online insert — port of the reference's
        ``insert(hashes, strand, val, max)`` overload
        (MIBloomFilter.hpp:309-373): the stored word per slot i is
        ``val | s_strand`` when ``strandDir ^ strand[i]`` with
        strandDir = max % 2 (the reference's parity convention), else
        plain ``val``; otherwise identical to :meth:`insert_online`
        (hash-seeded shuffled claim order, setDataIfEmpty, saturation
        fallback).  ``strand`` is a bool per hash (per-seed strand from
        a multi-seed iterator) or a single bool broadcast to all h
        (single-seed canonical NTMC64, one hStn per frame).

        IDs in strand mode must fit 30 bits (two stolen top bits)."""
        hashes = np.asarray(hashes, dtype=np.uint64).ravel()
        strand = np.broadcast_to(np.asarray(strand, dtype=bool).ravel(), (hashes.size,))
        if value & ~int(ID_MASK_STRAND):
            raise ValueError(f"strand-mode IDs must be < 2^30 (got {value})")
        words = np.where(strand ^ bool(max_count % 2), value | int(STRAND_BIT), value)
        return self._claim(hashes, words.tolist(), value, max_count)

    def insert_seq_online_strand(self, text: str, value: int, max_count: int = 1) -> bool:
        """Online strand insert of every frame of ``text`` — each
        frame's hStn flag (which direction won the canonical min) is
        stored in the strand bit, so a query can distinguish forward
        from reverse-complement matches.  Requires canonical mode
        (strand is meaningless forward-only).  In canonical SPACED
        mode the strand is PER SEED (stHashIterator's bool* hStn,
        nthash.hpp:798), exactly the per-hash strand array the
        reference's strand insert consumes."""
        if not self.canonical:
            raise ValueError("strand insert requires canonical=True hashing")
        hashes, _, strand = self._windows([text], strand=True)
        ok = True
        for w in range(hashes.shape[0]):
            ok &= self.insert_online_strand(hashes[w], strand[w], value, max_count)
        return ok

    def get_id_counts_strand(self) -> tuple[dict[int, int], int]:
        """getIDCountsStrand (MIBloomFilter.hpp:557-569): histogram of
        strand-STRIPPED IDs (both strand variants of an ID pool into
        one bucket) plus the saturated-entry count.  Faithful port
        note: like the reference, the id-0 bucket (empty slots) is
        included in the returned histogram — its strand variant sums
        over the whole count table where the plain getIDCounts loop
        skips index 0 (MIBloomFilter.hpp:699-701 vs :688-694)."""
        sat = (self.data & SAT_BIT) != 0
        ids = np.where(sat, self.data & ID_MASK_STRAND, self.data & ANTI_STRAND).astype(np.int64)
        vals, counts = np.unique(ids, return_counts=True)
        return dict(zip(vals.tolist(), counts.tolist())), int(sat.sum())

    # -- stats (MIBloomFilter.hpp:539-620) ----------------------------
    def get_id_counts(self) -> dict[int, int]:
        ids = (self.data & ID_MASK).astype(np.int64)
        vals, counts = np.unique(ids[ids > 0], return_counts=True)
        return dict(zip(vals.tolist(), counts.tolist()))

    def pop_saturated(self) -> int:
        return int(((self.data & SAT_BIT) != 0).sum())

    def pop_non_zero(self) -> int:
        return int(((self.data & ID_MASK) != 0).sum())

    # -- state --------------------------------------------------------
    def state_bytes(self) -> bytes:
        return (
            np.array([self.bits.size, self.data.size], dtype=np.int64).tobytes()
            + self.bits.tobytes()
            + self.data.tobytes()
        )

    def load_state(self, payload: bytes) -> None:
        nb, nd = (int(x) for x in np.frombuffer(payload, dtype=np.int64, count=2))
        off = 16
        self.bits = np.frombuffer(payload, dtype=np.uint8, count=nb, offset=off).copy()
        off += nb
        self.data = np.frombuffer(payload, dtype=np.uint32, count=nd, offset=off).copy()
        if hasattr(self, "_byte_cum"):
            del self._byte_cum
        self.freeze_rank_only()

    def freeze_rank_only(self):
        self._ensure_byte_cum()

    def update(self, values):  # pragma: no cover - built via build_mibf
        raise NotImplementedError("miBF is built with build_mibf (3-pass)")

    def merge(self, other):  # pragma: no cover
        raise NotImplementedError("merge happens per-pass inside build_mibf")


def with_classification(
    df: DataFrame,
    mibf: "MIBloomFilter",
    col: str,
    *,
    keep: list[str] | None = None,
    allowed_misses: int = 0,
    full: bool = False,
    min_count: "int | dict[int, int]" = 0,
    extra_count: float = 1.0,
    best_hit_agree: bool = True,
    extra_frame_limit: int | None = None,
    frame_probs: dict[int, float] | None = None,
) -> DataFrame:
    """Append miBF classification columns to every row — the
    distributed query path: the serialized miBF is broadcast once and
    each executor classifies its Arrow batches locally (mirrors the
    reference's query loop over a loaded filter,
    MIBFQuerySupport.hpp:94-130), so the corpus never moves to the
    driver.  Plan stays a pure map (no shuffle).

    ``full=False`` (default): the fast top-candidate path
    (classify_batch — best id by frame count, ties → smaller id);
    appends (best_id, frames, total_frames, saturated_frac).

    ``full=True``: the REFERENCE-GRADE pipeline (classify_full — per-ID
    CountResult tallies → stat-tie filter → 7-key sort → best-hit veto,
    MIBFQuerySupport.hpp:430-596) run per Arrow batch on the
    executors; ``min_count`` / ``extra_count`` / ``best_hit_agree`` /
    ``extra_frame_limit`` carry the reference's query knobs.  Frame
    probabilities are computed ONCE on the driver from the filter's
    own stats (calc_frame_probs — pure function of the broadcast
    filter state, MIBloomFilter.hpp:664-679) and broadcast alongside
    the blob; pass ``frame_probs`` explicitly for the strand-pooled
    variant (calc_frame_probs_strand) or custom priors.  Appends the
    winning QueryResult's fields
    (best_id, count, solid_count, non_sat_count, non_sat_frame_count,
    total_count, total_non_sat_count, frame_prob) plus n_candidates —
    the number of statistically-tied survivors (0 = no hit or best-hit
    veto; best_id is -1 in that case).

    ``keep`` prunes the OUTPUT columns (mapInPandas is opaque to
    Catalyst): pass only what the consumer needs so the classified
    text is not re-serialized back across the Arrow boundary."""
    from ..functions.probe import _blob_token, _cache_get

    spark = df.sparkSession
    ser = mibf.serialize()
    blob = spark.sparkContext.broadcast(ser)
    token = _blob_token(ser)
    if keep is None:
        keep = [f.name for f in df.schema.fields]
    # prune the input side as well (mapInPandas is opaque to Catalyst:
    # unselected columns would still be scanned and bridged to Python)
    need = list(dict.fromkeys(keep + [col]))
    if len(need) < len(df.schema.fields):
        df = df.select(*need)
    type_of = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if not full:
        new_cols = ["best_id", "frames", "total_frames", "saturated_frac"]
        clash = set(keep) & set(new_cols)
        if clash:
            raise ValueError(f"input columns clash with classification outputs: {sorted(clash)}")
        out_schema = ", ".join(
            [f"{c} {type_of[c]}" for c in keep]
            + ["best_id long", "frames long", "total_frames long", "saturated_frac double"]
        )

        def fn(batches):
            sk = _cache_get(token, blob.value)
            for pdf in batches:
                res = sk.classify_batch(pdf[col], allowed_misses=allowed_misses)
                yield pd.concat([pdf[keep].reset_index(drop=True), res], axis=1)

        return df.mapInPandas(fn, out_schema)

    if frame_probs is None:
        from .mibf_query import calc_frame_probs

        frame_probs, _ = calc_frame_probs(mibf, allowed_misses)
    fp_b = spark.sparkContext.broadcast(frame_probs)
    int_cols = [
        "count",
        "solid_count",
        "non_sat_count",
        "non_sat_frame_count",
        "total_count",
        "total_non_sat_count",
    ]
    new_cols = ["best_id"] + int_cols + ["frame_prob", "n_candidates"]
    clash = set(keep) & set(new_cols)
    if clash:
        raise ValueError(f"input columns clash with classification outputs: {sorted(clash)}")
    out_schema = ", ".join(
        [f"{c} {type_of[c]}" for c in keep]
        + [f"{c} long" for c in ["best_id"] + int_cols]
        + ["frame_prob double", "n_candidates long"]
    )

    def fn_full(batches):
        sk = _cache_get(token, blob.value)
        for pdf in batches:
            res = sk.classify_full(
                pdf[col],
                min_count=min_count,
                extra_count=extra_count,
                best_hit_agree=best_hit_agree,
                frame_probs=fp_b.value,
                extra_frame_limit=extra_frame_limit,
                allowed_misses=allowed_misses,
            )
            n = len(res)
            best = [lst[0] if lst else None for lst in res]
            out = pd.DataFrame(
                {
                    "best_id": np.array([r.id if r else -1 for r in best], dtype=np.int64),
                    "count": np.array([r.count if r else 0 for r in best], dtype=np.int64),
                    "solid_count": np.array([r.solidCount if r else 0 for r in best], dtype=np.int64),
                    "non_sat_count": np.array([r.nonSatCount if r else 0 for r in best], dtype=np.int64),
                    "non_sat_frame_count": np.array(
                        [r.nonSatFrameCount if r else 0 for r in best], dtype=np.int64
                    ),
                    "total_count": np.array([r.totalCount if r else 0 for r in best], dtype=np.int64),
                    "total_non_sat_count": np.array(
                        [r.totalNonSatCount if r else 0 for r in best], dtype=np.int64
                    ),
                    "frame_prob": np.array([r.frameProb if r else 0.0 for r in best], dtype=np.float64),
                    "n_candidates": np.array([len(lst) for lst in res], dtype=np.int64),
                }
            )
            yield pd.concat([pdf[keep].reset_index(drop=True), out], axis=1)

    return df.mapInPandas(fn_full, out_schema)


def with_paired_classification(
    df: DataFrame,
    mibf: "MIBloomFilter",
    col1: str,
    col2: str,
    *,
    keep: list[str] | None = None,
    allowed_misses: int = 0,
    min_count: "int | dict[int, int]" = 0,
    extra_count: float = 1.0,
    best_hit_agree: bool = True,
    extra_frame_limit: int | None = None,
    frame_probs: dict[int, float] | None = None,
) -> DataFrame:
    """Distributed two-iterator paired query — classify_full_paired
    (the reference's paired-read overload, MIBFQuerySupport.hpp:111-130:
    frames from the two sequences consumed alternately, one combined
    candidate tally per pair) per Arrow batch on executors.  Same
    broadcast + pure-map shape and same output columns as
    ``with_classification(full=True)``; ``col1``/``col2`` are the mate
    columns of each row (e.g. read-pair seq1/seq2)."""
    from ..functions.probe import _blob_token, _cache_get

    spark = df.sparkSession
    ser = mibf.serialize()
    blob = spark.sparkContext.broadcast(ser)
    token = _blob_token(ser)
    if keep is None:
        keep = [f.name for f in df.schema.fields]
    need = list(dict.fromkeys(keep + [col1, col2]))
    if len(need) < len(df.schema.fields):
        df = df.select(*need)
    type_of = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if frame_probs is None:
        from .mibf_query import calc_frame_probs

        frame_probs, _ = calc_frame_probs(mibf, allowed_misses)
    fp_b = spark.sparkContext.broadcast(frame_probs)
    int_cols = [
        "count",
        "solid_count",
        "non_sat_count",
        "non_sat_frame_count",
        "total_count",
        "total_non_sat_count",
    ]
    new_cols = ["best_id"] + int_cols + ["frame_prob", "n_candidates"]
    clash = set(keep) & set(new_cols)
    if clash:
        raise ValueError(f"input columns clash with classification outputs: {sorted(clash)}")
    out_schema = ", ".join(
        [f"{c} {type_of[c]}" for c in keep]
        + [f"{c} long" for c in ["best_id"] + int_cols]
        + ["frame_prob double", "n_candidates long"]
    )

    def fn(batches):
        sk = _cache_get(token, blob.value)
        for pdf in batches:
            res = sk.classify_full_paired(
                list(zip(pdf[col1], pdf[col2])),
                min_count=min_count,
                extra_count=extra_count,
                best_hit_agree=best_hit_agree,
                frame_probs=fp_b.value,
                extra_frame_limit=extra_frame_limit,
                allowed_misses=allowed_misses,
            )
            best = [lst[0] if lst else None for lst in res]
            out = pd.DataFrame(
                {
                    "best_id": np.array([r.id if r else -1 for r in best], dtype=np.int64),
                    "count": np.array([r.count if r else 0 for r in best], dtype=np.int64),
                    "solid_count": np.array([r.solidCount if r else 0 for r in best], dtype=np.int64),
                    "non_sat_count": np.array([r.nonSatCount if r else 0 for r in best], dtype=np.int64),
                    "non_sat_frame_count": np.array(
                        [r.nonSatFrameCount if r else 0 for r in best], dtype=np.int64
                    ),
                    "total_count": np.array([r.totalCount if r else 0 for r in best], dtype=np.int64),
                    "total_non_sat_count": np.array(
                        [r.totalNonSatCount if r else 0 for r in best], dtype=np.int64
                    ),
                    "frame_prob": np.array([r.frameProb if r else 0.0 for r in best], dtype=np.float64),
                    "n_candidates": np.array([len(lst) for lst in res], dtype=np.int64),
                }
            )
            yield pd.concat([pdf[keep].reset_index(drop=True), out], axis=1)

    return df.mapInPandas(fn, out_schema)


# ---------------------------------------------------------------------------
# distributed 3-pass build
# ---------------------------------------------------------------------------


def _winners_df(counts: DataFrame) -> DataFrame:
    """Deterministic count-weighted reservoir per rank position,
    entirely JVM-side: key = u^(1/count) with u = uniform from
    xxhash64(rpos, id) — Efraimidis-Spirakis weighted sampling; the
    max-key candidate wins, ties broken by id.  Pure function of
    {(rpos, id, count)} → associative and partition-order independent
    (replaces the reference's fetch-add race,
    MIBFConstructSupport.hpp:120-129).

    Implemented as a max_by AGGREGATION, not a row_number window: the
    aggregation partial-combines map-side and never sorts, where the
    window formulation paid a full per-partition sort on (rpos, score,
    id) — measured 1.3-2.3x faster at 3M count rows with identical
    output (struct(score, -id) max == highest score, ties to smallest
    id — the window's orderBy(desc score, asc id) exactly)."""
    # pmod keeps u strictly in (0, 1] (F.abs maps Long.MIN_VALUE to a
    # negative value with probability 2^-63, yielding a NaN score)
    u = (F.pmod(F.xxhash64(F.col("rpos"), F.col("id")), F.lit(2**62)).cast("double") + F.lit(1.0)) / F.lit(
        float(2**62)
    )
    return (
        counts.withColumn("score", F.pow(u, F.lit(1.0) / F.col("c").cast("double")))
        .groupBy("rpos")
        .agg(F.expr("max_by(id, struct(score, -id))").alias("id"))
        .select("rpos", "id")
    )


def _assemble_u32(pairs: DataFrame, total_len: int, *, val_col: str = "id") -> np.ndarray:
    """Densify (rpos, val) rows into a uint32 array of ``total_len``
    WITHOUT a driver row round-trip: each reduce task builds the dense
    bytes of one contiguous rpos range (reduce-scatter, the analog of
    plans.agg.build_sketch's sliced merge), and the driver concatenates the
    slice blobs — driver traffic is exactly 4·total_len bytes (the
    array it must hold anyway), independent of row count."""
    import math

    n_slices = min(1024, max(16, math.ceil(total_len / (4 << 20))))
    bound = max(1, math.ceil(total_len / n_slices))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(pdf["__slice"].iloc[0])
        lo = s * bound
        ln = min(bound, total_len - lo)
        dense = np.zeros(ln, dtype=np.uint32)
        dense[pdf["rpos"].to_numpy(dtype=np.int64) - lo] = pdf[val_col].to_numpy(dtype=np.int64).astype(
            np.uint32
        )
        return pd.DataFrame({"slice": [s], "blob": [dense.tobytes()]})

    rows = (
        pairs.withColumn("__slice", (F.col("rpos") / F.lit(bound)).cast("long"))
        .groupBy("__slice")
        .applyInPandas(build, "slice long, blob binary")
        .collect()
    )
    out = np.zeros(total_len, dtype=np.uint32)
    for r in rows:
        lo = int(r["slice"]) * bound
        arr = np.frombuffer(bytes(r["blob"]), dtype=np.uint32)
        out[lo : lo + arr.size] = arr
    return out


def _frames_fn(
    blob, text_col: str, id_col: str, emit, *, needs_stored: bool = True, strand_dir: bool | None = None
):
    """mapInPandas body shared by the build passes: probe every window
    of every element against the broadcast miBF and call
    ``emit(rpos (W,h), stored (W,h) | None, ids (W,)) -> DataFrame | None``.

    ``needs_stored=False`` skips the (W, h) ID-array gather — pass 2
    runs before any IDs exist, so gathering zeros there would waste
    the heaviest scan's memory bandwidth.

    ``strand_dir`` (canonical filters only) turns the emitted values
    into strand-carrying VALUES per slot: id | STRAND_BIT when
    ``strand_dir XOR hStn`` — the same value law as the online strand
    insert (MIBloomFilter.hpp:325), so batch-built and online-built
    strand filters store compatible words.  hStn is per frame for
    single-seed canonical and PER SEED for canonical spaced mode
    (stHashIterator's bool* layout).

    ``emit`` receives ``vals`` of shape (W, h): the value each of the
    frame's h slots would store (all columns equal the plain id when
    strand is off)."""

    def fn(batches):
        probe = Sketch.deserialize(blob.value)
        for pdf in batches:
            if strand_dir is None:
                (hashes, rows), strands = probe._windows(pdf[text_col]), None
            else:
                hashes, rows, strands = probe._windows(pdf[text_col], strand=True)
            if hashes.shape[0] == 0:
                continue
            _, idx = probe._probe(hashes)  # all set by construction
            rpos = probe.rank_pos(idx)  # (W, h)
            stored = (probe.data[rpos] & ID_MASK).astype(np.int64) if needs_stored else None
            ids = pdf[id_col].to_numpy()[rows].astype(np.int64)
            if strands is not None:
                if (ids >> 30).any():
                    raise ValueError("strand-mode IDs must be < 2^30 (two stolen top bits)")
                vals = np.where(strands ^ strand_dir, ids[:, None] | np.int64(STRAND_BIT), ids[:, None])
                vals = np.broadcast_to(vals, rpos.shape)
            else:
                vals = np.broadcast_to(ids[:, None], rpos.shape)
            out = emit(rpos, stored, vals)
            if out is not None and len(out):
                yield out

    return fn


def build_mibf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    m_bits: int,
    hash_num: int = 3,
    k: int = 8,
    seed_salt: int = 0,
    repair: bool = True,
    checkpoint_dir: str | None = None,
    lineage: str = "",
    spaced_seeds: list[str] | None = None,
    canonical: bool = False,
    strand: bool = False,
    cache_source: bool = True,
) -> MIBloomFilter:
    """Distributed miBF construction (see module docstring).

    IDs must be positive ints < 2^31 (top bit is the saturation flag);
    in strand mode < 2^30 (MSB-1 is the strand bit).

    ``strand=True`` (requires ``canonical=True``) is the DISTRIBUTED
    analog of the reference's online strand insert
    (MIBloomFilter.hpp:309-373, which has no construct-support
    equivalent — this is our extension): every window's stored value
    carries the strand bit per the same ``strandDir XOR hStn`` law the
    online path uses at max=1, chosen deterministically by the usual
    count-weighted reservoir over strand-carrying values.  Lost-ID
    repair and saturation match strand-specifically, mirroring the
    online insert's value comparison.  Query the result with
    ``get_id_counts_strand`` / ``calc_frame_probs_strand``; classify
    candidates carry the strand bit in their id (ID_MASK semantics,
    MIBFQuerySupport.hpp:489-493).

    ``checkpoint_dir``/``lineage`` checkpoint the two heaviest stages:
    pass 1 forwards to plans.agg.build_sketch (bit-vector slices of
    every partition with lineage + fill metrics), and pass 2 persists the
    (rpos, id, c) count table — the full window re-hash plus the
    build's only big shuffle — under ``<checkpoint_dir>/mibf_counts``
    keyed by the filter params + lineage.  A rerun with matching
    params resumes both from disk (north-rule resumability); the
    repair/saturation passes re-run (they are broadcast-probe maps
    over the cached source and depend on the assembled data array).
    ``checkpoint_dir`` must be a driver-visible local/shared POSIX
    path — non-file URI schemes fail fast
    (plans.agg.require_local_checkpoint_dir, ADVICE r4).

    With ``repair=True`` (default) a mutate-before-saturate pass runs
    between insertion and saturation, the batch analog of the
    reference's setSatIfMissing (MIBFConstructSupport.hpp:168-214):
    an element whose ID survives at none of its frame's slots first
    tries to overwrite a slot whose stored ID is DUPLICATED within
    that same frame (the duplicate copy keeps that ID findable), and
    only frames with no such slot saturate.  Among duplicated slots
    the one with the highest insertion count is chosen (the
    reference's m_counts heuristic), ties to the smaller rank
    position; conflicting mutations of one slot are resolved by the
    same deterministic count-weighted reservoir as pass 2.  Deviation
    from the serial reference (documented): saturation is decided by
    a RE-CHECK after all mutations land, so entries erased by a
    concurrent mutation still end up saturated — the reference admits
    it can silently lose those (its "Small chance that mutation may
    erase entries" comment); determinism replaces its OpenMP races.
    """
    spark = df.sparkSession
    if strand and not canonical:
        raise ValueError("strand=True requires canonical=True (strand is the canonical-min direction)")
    # the reference's online convention at max=1: strandDir = 1
    strand_dir: bool | None = True if strand else None
    if checkpoint_dir:
        from ..plans.agg import require_local_checkpoint_dir

        require_local_checkpoint_dir(checkpoint_dir)

    # The 3-pass structure (forced by the reference's algorithm) scans
    # the source 3-4x.  ``cache_source=True`` persists the two needed
    # columns ONCE (MEMORY_AND_DISK) so passes 2/repair/3 re-read a
    # compact cached projection instead of re-running the upstream plan
    # each time — the right default whenever the upstream is expensive
    # (joins, UDF transforms, remote/object-store I/O).  Measured on
    # the bench host over sf0.1 docs with a narrow transform upstream,
    # persist-vs-recompute differences sit INSIDE the host's variance
    # band (best-of interleaved: 24.3s cached / 31.3s direct; a
    # separate session best-of-3: 34.4s cached / 21.1s direct) — for
    # cheap columnar scans the cache is roughly neutral locally, so
    # callers with a bare parquet source on a memory-tight cluster can
    # pass cache_source=False.  An alternative considered and
    # REJECTED: caching the hashed frame table ((rpos x h, val) per
    # window) to skip re-hashing entirely — at k~10 the frame table is
    # (h+1)x8 bytes per window vs ~1 byte per source char, i.e. ~25-30x
    # the source bytes; re-hashing the (cached) text is strictly
    # cheaper than that much extra I/O at any scale, which is exactly
    # why the reference also re-iterates its input per pass.
    from pyspark import StorageLevel

    src = df.select(text_col, id_col)
    if cache_source:
        src = src.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _build_mibf_passes(
            spark,
            src,
            text_col,
            id_col,
            m_bits=m_bits,
            hash_num=hash_num,
            k=k,
            seed_salt=seed_salt,
            repair=repair,
            checkpoint_dir=checkpoint_dir,
            lineage=lineage,
            spaced_seeds=spaced_seeds,
            canonical=canonical,
            strand_dir=strand_dir,
        )
    finally:
        if cache_source:
            src.unpersist()


def _build_mibf_passes(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    m_bits: int,
    hash_num: int,
    k: int,
    seed_salt: int,
    repair: bool,
    checkpoint_dir: str | None,
    lineage: str,
    spaced_seeds: list[str] | None,
    canonical: bool,
    strand_dir: bool | None,
) -> MIBloomFilter:
    # ---- pass 1: bit vector (plain Bloom build, bit-exact OR merge)
    from ..plans.agg import build_sketch

    bloom = build_sketch(
        df,
        text_col,
        lambda: BloomFilter(
            m_bits, hash_num, k, seed_salt=seed_salt, spaced_seeds=spaced_seeds, canonical=canonical
        ),
        checkpoint_dir=checkpoint_dir,
        lineage=lineage,
    )
    mibf = MIBloomFilter(
        m_bits, hash_num, k, seed_salt=seed_salt, spaced_seeds=spaced_seeds, canonical=canonical
    )
    mibf.freeze(bloom.bits)
    total = int(mibf.data.size)

    # broadcast the frozen bit vector once; executors compute rank
    # positions locally (byte-cum LUT rebuilt per executor, cached)
    blob = spark.sparkContext.broadcast(mibf.serialize())

    def pairs_emit(rpos, stored, vals):
        return pd.DataFrame({"rpos": rpos.ravel(), "id": vals.ravel().astype(np.int64)})

    # ---- pass-2 checkpoint (north-rule resumability for the heaviest
    # scan): with checkpoint_dir, the (rpos, id, c) count table — the
    # full re-hash of every window plus the build's only big shuffle —
    # persists to parquet keyed by the filter params + lineage, using
    # the same invalidate-before-overwrite discipline as
    # plans.agg.build_sketch.  A rerun with matching params resumes
    # passes 1 AND 2 from disk; repair/saturation (broadcast-probe
    # passes over the cached source) re-run — they depend on the
    # assembled data array, not on raw counts.
    import json as _json
    import os as _os

    cdir = _os.path.join(checkpoint_dir, "mibf_counts") if checkpoint_dir else None
    import hashlib as _hashlib

    counts_params = _json.dumps(
        {
            "op": "mibf_counts",
            # rank positions are only meaningful for the EXACT bit
            # vector they were computed against; if the pass-1
            # checkpoint was invalidated (different source rebuilt the
            # bloom) stale counts must not resume
            "bits_sha1": _hashlib.sha1(mibf.bits.tobytes()).hexdigest(),
            "m_bits": m_bits,
            "hash_num": hash_num,
            "k": k,
            "seed_salt": seed_salt,
            "spaced_seeds": spaced_seeds,
            "canonical": canonical,
            "strand_dir": strand_dir,
            "text_col": text_col,
            "id_col": id_col,
            "lineage": lineage,
        },
        sort_keys=True,
    )

    def _counts_ckpt_matches() -> bool:
        p = _os.path.join(cdir, "params.json")
        success = _os.path.join(cdir, "data", "_SUCCESS")
        if not (_os.path.exists(p) and _os.path.exists(success)):
            return False
        with open(p) as f:
            return f.read() == counts_params

    if cdir and _counts_ckpt_matches():
        counts = spark.read.parquet(_os.path.join(cdir, "data"))
    else:
        pairs = df.select(text_col, id_col).mapInPandas(
            _frames_fn(blob, text_col, id_col, pairs_emit, needs_stored=False, strand_dir=strand_dir),
            "rpos long, id long",
        )
        counts = pairs.groupBy("rpos", "id").agg(F.count("*").alias("c"))
        if cdir:
            stale = _os.path.join(cdir, "params.json")
            if _os.path.exists(stale):
                _os.remove(stale)
            counts.write.mode("overwrite").parquet(_os.path.join(cdir, "data"))
            _os.makedirs(cdir, exist_ok=True)
            with open(_os.path.join(cdir, "params.json"), "w") as f:
                f.write(counts_params)
            counts = spark.read.parquet(_os.path.join(cdir, "data"))
    if repair:
        counts = counts.persist()
    # ---- pass 2: deterministic reservoir winner per rank position,
    # assembled into the dense ID array by rpos-range reduce-scatter
    # (never one-row-per-set-bit to the driver)
    mibf.data = _assemble_u32(_winners_df(counts), total)

    if repair:
        # per-position total insertion count (the reference's m_counts,
        # MIBFConstructSupport.hpp:98,204) — capped into uint32
        pos_counts = _assemble_u32(
            counts.groupBy("rpos").agg(
                F.least(F.sum("c"), F.lit((1 << 32) - 1)).alias("cnt")
            ),
            total,
            val_col="cnt",
        )
        counts.unpersist()
        blob_r = spark.sparkContext.broadcast(mibf.serialize())
        cnt_b = spark.sparkContext.broadcast(pos_counts.tobytes())

        def mutate_emit(rpos, stored, vals):
            lost = ~(stored == vals).any(axis=1)
            if not lost.any():
                return None
            st = stored[lost]
            rp = rpos[lost]
            h = st.shape[1]
            # a slot is replaceable if its stored ID occurs elsewhere
            # in the SAME frame (or the slot is empty): overwriting one
            # copy keeps the ID findable at the other
            dup = st == 0
            for a in range(h):
                for b in range(h):
                    if a != b:
                        # same stored ID at a DIFFERENT physical slot —
                        # two hashes colliding on one rank position are
                        # a single copy, not a redundant one
                        dup[:, a] |= (st[:, a] == st[:, b]) & (rp[:, a] != rp[:, b])
            has = dup.any(axis=1)
            if not has.any():
                return None
            pc = np.frombuffer(cnt_b.value, dtype=np.uint32)
            score = pc[rp].astype(np.int64)
            score[~dup] = -1
            mx = score.max(axis=1, keepdims=True)
            tie = (score == mx) & dup
            rp_m = np.where(tie, rp, np.iinfo(np.int64).max)
            jbest = rp_m.argmin(axis=1)
            sel = np.flatnonzero(has)
            return pd.DataFrame(
                {
                    "rpos": rp[sel, jbest[sel]],
                    # value at the CHOSEN slot (strand mode stores the
                    # per-slot strand-adjusted value; columns are equal
                    # in plain mode so this reduces to the id)
                    "id": vals[lost][sel, jbest[sel]],
                }
            )

        muts = df.select(text_col, id_col).mapInPandas(
            _frames_fn(blob_r, text_col, id_col, mutate_emit, strand_dir=strand_dir),
            "rpos long, id long",
        )
        mut_counts = muts.groupBy("rpos", "id").agg(F.count("*").alias("c"))
        mut_arr = _assemble_u32(_winners_df(mut_counts), total)
        # setData overwrite (MIBFConstructSupport.hpp:204-206)
        np.copyto(mibf.data, mut_arr, where=mut_arr != 0)

    # ---- pass 3: saturation — elements whose ID appears at none of
    # their frames' slots (post-repair) get the sticky saturation bit
    blob2 = spark.sparkContext.broadcast(mibf.serialize())

    def lost_emit(rpos, stored, vals):
        lost = ~(stored == vals).any(axis=1)
        if not lost.any():
            return None
        # batch-local dedup: the same rank position saturates once —
        # np.unique here compresses the shuffle like a map-side
        # partial distinct, WITHOUT the extra rpos exchange a
        # .distinct() would add (the dense assemble assignment of the
        # constant 1 is idempotent, so cross-batch duplicates are
        # harmless)
        return pd.DataFrame({"rpos": np.unique(rpos[lost].ravel())})

    lost = df.select(text_col, id_col).mapInPandas(
        _frames_fn(blob2, text_col, id_col, lost_emit, strand_dir=strand_dir), "rpos long"
    ).withColumn("one", F.lit(1))
    sat_mask = _assemble_u32(lost, total, val_col="one")
    mibf.data[sat_mask != 0] |= SAT_BIT
    mibf.freeze_rank_only()
    return mibf
