"""Misra-Gries mergeable heavy-hitters summary (deterministic top-k).

The north_rule asks for "heavy-hitter tools" as a mergeable sketch.
The engine already answers that with Count-Min (``operators.counting``,
q33/q88) — a randomized, *overestimating* structure whose state is
``d*w`` counters regardless of how skewed the data is.  Misra-Gries
(Misra & Gries, Sci. Comput. Program. 1982) is the complementary
deterministic summary: exactly ``k`` (item, count) pairs, *under*
estimates, and the classic frequent-items guarantee

    est(x) <= true(x) <= est(x) + N/(k+1)        for every item x,
    every x with true(x) > N/(k+1) is IN the summary.

Mergeability is the Agarwal et al. "Mergeable Summaries" (PODS'12,
§3.1) result: two MG summaries merge by adding counts item-wise and
then COMPRESSING — subtract the (k+1)-th largest count from every
counter and drop the non-positive ones.  Each compress that subtracts
``c*`` removes at least ``(k+1)*c*`` total weight, so the sum of all
subtractions across every partition and every merge level is at most
``N/(k+1)`` — the single-stream bound survives arbitrary partitioning
and merge trees, which is exactly the property a distributed build
needs (north_rule: "merge associativity ... under arbitrary partition
orderings").

Reference parity: btl_bloomfilter has no frequency sketch of its own —
its CountingBloomFilter (`CountingBloomFilter.hpp:135-183`) is the
closest surface and is already covered by ``operators.counting``.
MG is included as the deterministic member of the heavy-hitter family,
same as HLL/KLL/t-digest round out the cardinality/quantile families.

Distributed shape: ``MGSummary`` is a ``Sketch``, so :func:`mg_topk`
is ``plans.agg.build_sketch`` over the column cast to string.  Each
kernel task folds Arrow-batch ``value_counts`` into one counter map
(compressed to ``k`` whenever it exceeds ``max(8k, 1024)`` counters)
and ships one blob of at most ``k`` counters; the driver merges the
≤ R blobs.  No shuffle, no corpus-sized state, no skew sensitivity (a
hot item is one counter, not one shuffle key carrying its rows).

The summary is partition-dependent (WHICH borderline items survive
depends on where the stream was cut) but the guarantee above is not —
the board query (q93) therefore gates the bounds and the
all-heavy-found law rather than hash-comparing the summary itself.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..plans.agg import build_sketch
from .base import Sketch

__all__ = ["MGSummary", "mg_compress", "mg_topk", "mg_topk_by_key"]


def mg_compress(counts: pd.Series, k: int) -> tuple[pd.Series, int]:
    """Reduce a (item -> count) Series to at most ``k`` counters.

    Subtracts the (k+1)-th largest count ``c*`` from every counter and
    drops the non-positive ones (PODS'12 §3.1 MERGE step).  At most
    ``k`` counters can exceed ``c*``, so the result is bounded; every
    surviving estimate shrinks by exactly ``c*`` and every dropped
    item's estimate was at most ``c*`` — either way per-item error
    grows by at most ``c*``.  Returns ``(compressed, c*)``.
    """
    if len(counts) <= k:
        return counts, 0
    vals = counts.to_numpy()
    j = len(vals) - k - 1  # (k+1)-th largest == (n-k)-th smallest
    cstar = int(np.partition(vals, j)[j])
    kept = counts[counts > cstar] - cstar
    return kept, cstar


class MGSummary(Sketch):
    """Mergeable Misra-Gries summary: at most ``k`` (item, count)
    counters over the non-null values seen.

    ``update``/``update_arrow`` fold a batch's ``value_counts`` into
    the counters and compress to ``k`` once they exceed ``max(8k,
    1024)``; ``merge`` adds counts and compresses to ``k``.  ``counts``
    and the serialized state always hold at most ``k`` counters."""

    def __init__(self, k: int):
        if k <= 0:
            raise ValueError("k must be positive")
        self.k = int(k)
        self._cap = max(8 * self.k, 1024)
        self.n = 0  # total non-null values summarized
        self.subtracted = 0  # sum of every compress subtraction (tracked bound)
        self._counts: dict[str, int] = {}

    def update(self, values) -> None:
        vc = pd.Series(values).dropna().astype(str).value_counts()
        self._fold(zip(vc.index, vc.tolist()), int(vc.sum()), self._cap)

    def update_arrow(self, arr) -> None:
        vc = pc.value_counts(arr.drop_null())
        cnts = vc.field("counts").to_numpy()
        self._fold(zip(vc.field("values").to_pylist(), cnts.tolist()), int(cnts.sum()), self._cap)

    def _fold(self, pairs, n: int, cap: int) -> None:
        """Add (item, count) pairs summarizing ``n`` values, then
        compress to ``k`` if more than ``cap`` counters remain."""
        c = self._counts
        for item, cnt in pairs:
            c[item] = c.get(item, 0) + cnt
        self.n += n
        if len(c) > cap:
            self._compress()

    def _compress(self) -> None:
        if len(self._counts) > self.k:
            kept, cstar = mg_compress(pd.Series(self._counts, dtype="int64"), self.k)
            self._counts = dict(zip(kept.index, kept.tolist()))
            self.subtracted += cstar

    def merge(self, other: "MGSummary") -> "MGSummary":
        self._require_compatible(other)
        self.subtracted += other.subtracted
        self._fold(other._counts.items(), other.n, self.k)
        return self

    def state_bytes(self) -> bytes:
        self._compress()
        state = {"n": self.n, "subtracted": self.subtracted, "counts": self._counts}
        return json.dumps(state, ensure_ascii=False).encode()

    def load_state(self, payload: bytes) -> None:
        state = json.loads(payload)
        self.n, self.subtracted, self._counts = state["n"], state["subtracted"], state["counts"]

    def params(self) -> dict:
        return {"k": self.k}

    @property
    def counts(self) -> dict[str, int]:
        """item → underestimated count, at most ``k`` entries."""
        self._compress()
        return self._counts

    @property
    def err_bound(self) -> int:
        """Analytic worst-case underestimate: floor(N/(k+1))."""
        return self.n // (self.k + 1)

    @property
    def tracked_bound(self) -> int:
        """Data-dependent bound (<= err_bound): total weight actually
        subtracted across all partitions and merge levels; no item's
        underestimate can exceed it."""
        return self.subtracted

    def estimate(self, item: str) -> int:
        return self.counts.get(item, 0)


def mg_topk_by_key(df: DataFrame, keys: list[str], col: str, k: int) -> DataFrame:
    """Per-group Misra-Gries summary: for each distinct ``keys`` tuple,
    at most ``k`` (item, mg_est) rows plus the group size and its
    N/(k+1) bound.  ``applyInPandas`` per group — exact in-group
    ``value_counts`` (distinct-bounded state) then ONE compress, so
    estimates obey the same laws as :func:`mg_topk` and, whenever a
    group has <= k distinct items, equal the exact counts — which is
    how the board query (q99) hash-oracles this path against a plain
    GROUP BY.  Unlike the global summary, the per-group result is
    fully deterministic (no partition-cut dependence: the whole group
    reaches one task).

    Shape note: right for MANY moderate groups (per-task memory is the
    group's DISTINCT items, but Spark materializes the group's rows
    per task); for one giant key use :func:`mg_topk` over the filtered
    frame instead."""
    if k <= 0:
        raise ValueError("k must be positive")
    if not keys:
        raise ValueError("keys must name at least one column")
    reserved = {"item", "mg_est", "n_group", "err_bound"}
    clash = reserved.intersection(keys)
    if clash:
        raise ValueError(f"key columns collide with output names: {sorted(clash)}")
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [df.schema[kc] for kc in keys]
        + [
            StructField("item", StringType()),
            StructField("mg_est", LongType()),
            StructField("n_group", LongType()),
            StructField("err_bound", LongType()),
        ]
    )
    src = df.select(*keys, F.col(col).cast("string").alias("__item"))

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        vc = pdf["__item"].dropna().value_counts()
        n = int(vc.sum())
        counts, _ = mg_compress(vc, k)
        out = pd.DataFrame({"item": counts.index, "mg_est": counts.to_numpy()})
        for kc, kv in zip(keys, key):
            out[kc] = kv
        out["n_group"] = n
        out["err_bound"] = n // (k + 1)
        return out[[*keys, "item", "mg_est", "n_group", "err_bound"]]

    return src.groupBy(*keys).applyInPandas(fn, out_schema)


def mg_topk(df: DataFrame, col: str, k: int) -> MGSummary:
    """Distributed Misra-Gries: ``build_sketch`` of an :class:`MGSummary`
    over ``df[col]`` cast to string (NULLs excluded).  Guarantees (gated
    by q93 and tests/test_topk.py): for every item, ``est <= true`` and
    ``true - est <= min(n//(k+1), subtracted)``; every item with
    ``true > n//(k+1)`` appears in the summary."""
    items = df.select(F.col(col).cast("string").alias("item"))
    return build_sketch(items, "item", lambda: MGSummary(k))
