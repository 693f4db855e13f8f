"""Broadcast-probe column functions.

The reference's query path (`testBloom_rolling.cpp:19-33`) streams a
corpus against a loaded filter.  Spark-native equivalent: broadcast
the serialized sketch once, then probe with one Arrow UDF — a pure map
(no shuffle) that Catalyst plans as `Project(ArrowEvalPython)` over a
pruned scan.  A string batch reaches the sketch as the Arrow array
itself when the sketch has a ``*_arrow`` name for the method (an alias:
the method reads Arrow string buffers zero-copy); every other batch
goes to its pandas method through PySpark's own Arrow→pandas
conversion (the column rule of ``plans.agg``).  Using
`df.filter(bloom_contains(...))` is a broadcast semi-join against the
Bloom filter, the classic BF use.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import Column, SparkSession
from pyspark.sql.functions import arrow_udf

from ..operators.base import Sketch
from ..plans.agg import _pandas_conversion

# per-worker deserialized-sketch cache (rebuilt lazily per executor).
# Keyed by CONTENT hash so identical sketches probed repeatedly share
# one entry, and bounded (FIFO) so a long-lived app probing many
# filters can't accumulate GBs of dense state in every Python worker.
_WORKER_CACHE: dict[str, Sketch] = {}
_WORKER_CACHE_MAX = 8

#: probe method → its name on sketches that take Arrow string arrays
_ARROW_METHODS = {"seen_fraction": "seen_fraction_arrow", "contains_batch": "contains_arrow"}


def _cache_get(token: str, blob_value) -> Sketch:
    sk = _WORKER_CACHE.get(token)
    if sk is None:
        while len(_WORKER_CACHE) >= _WORKER_CACHE_MAX:
            _WORKER_CACHE.pop(next(iter(_WORKER_CACHE)))
        sk = _WORKER_CACHE[token] = Sketch.deserialize(blob_value)
    return sk


def _blob_token(blob: bytes) -> str:
    import hashlib

    return hashlib.sha1(blob).hexdigest()


def _is_text(t) -> bool:
    return pa.types.is_string(t) or pa.types.is_large_string(t)


def _probe_udfs(spark: SparkSession, sketch: Sketch, *specs: tuple[str, str]) -> list:
    """One Arrow UDF per ``(method, ret_type)``, all sharing ONE
    broadcast of the serialized sketch."""
    blob = sketch.serialize()
    bc = spark.sparkContext.broadcast(blob)
    token = _blob_token(blob)
    timezone = spark.conf.get("spark.sql.session.timeZone")

    def make(method: str, ret_type: str):
        arrow_method = _ARROW_METHODS.get(method)

        @arrow_udf(ret_type)
        def probe(arr: pa.Array) -> pa.Array:
            sk = _cache_get(token, bc.value)
            if arrow_method and hasattr(sk, arrow_method) and _is_text(arr.type):
                out = getattr(sk, arrow_method)(arr)
            else:
                out = getattr(sk, method)(_pandas_conversion(timezone)(arr))
            return pa.array(out)

        return probe

    return [make(method, ret_type) for method, ret_type in specs]


def _probe_udf(spark: SparkSession, sketch: Sketch, method: str, ret_type: str):
    return _probe_udfs(spark, sketch, (method, ret_type))[0]


def bloom_contains(spark: SparkSession, bf, col) -> Column:
    """True iff every window/element of the value is in the filter
    (BloomFilter.hpp:237-262 semantics, per-string reduction)."""
    return _probe_udf(spark, bf, "contains_batch", "boolean")(col)


def bloom_seen_fraction(spark: SparkSession, bf, col) -> Column:
    """Fraction of the string's k-gram windows present in the filter
    (hits/total tally of testBloom_rolling.cpp:27-32)."""
    return _probe_udf(spark, bf, "seen_fraction", "double")(col)


def counting_estimate(spark: SparkSession, cbf, col) -> Column:
    """Min-count estimate per element (CountingBloomFilter.hpp:190-196
    / count-min point query)."""
    return _probe_udf(spark, cbf, "estimate_batch", "double")(col)


def register_sql(spark: SparkSession, name: str, sketch: Sketch, method: str, ret_type: str) -> None:
    """Expose a probe as a SQL function: SELECT name(text) FROM ..."""
    spark.udf.register(name, _probe_udf(spark, sketch, method, ret_type))


def with_probe_columns(
    df,
    sketch: Sketch,
    col: str,
    *,
    frac_col: str | None = None,
    contains_col: str | None = None,
    keep: list[str] | None = None,
):
    """``df.select(*keep, <probe columns>)``: the seen-fraction and/or
    contains columns of ``df[col]``, two UDFs over one broadcast that
    Catalyst plans as a single ArrowEvalPython node.  ``keep`` (default:
    every column of ``df``) is a plain select, so the scan reads only
    ``keep`` and ``col``."""
    if keep is None:
        keep = df.columns
    wanted = [(name, method, t) for name, method, t in (
        (frac_col, "seen_fraction", "double"),
        (contains_col, "contains_batch", "boolean"),
    ) if name]
    udfs = _probe_udfs(df.sparkSession, sketch, *[(m, t) for _, m, t in wanted])
    return df.select(*keep, *[u(col).alias(name) for u, (name, _, _) in zip(udfs, wanted)])
