"""Distributed sketch-build plans.

The reference parallelizes by having OpenMP threads atomically update
one shared array (`Tests/AdHoc/ParallelFilter.cpp:109-120`).  Here
every partition builds a private sketch and an associative,
commutative merge combines them, so partition order never matters
(tests verify under permutations).  ``build_sketch`` is one plan:

    scan (column-pruned) → [repartition] → coalesce(W) →
    mapInArrow kernel → merge → driver finalize

R = max(16, min(256, 2·defaultParallelism)) is the slice count of the
reduce-scatter merge.  The kernel width W has two values.  A sketch
with a byte-range layout (Bloom, counting Bloom, CountSketch) keeps
W = R: its partial grows with the input it sees, and a Bloom partial
fed two partitions' windows passes its m/8 pending-position cap and
folds into the dense array.  Every other sketch emits one small blob
per task, so it runs one wave, W = min(defaultParallelism, R): a Python
task costs 60–130 ms whatever its work, and a second wave of them costs
more than the kernel.  The coalesce is narrow: it does nothing for
inputs of ≤ W partitions and otherwise caps the kernel at W tasks
without a shuffle.  One kernel builds every partial, one sketch per
(task, key tuple): ``build_sketch`` passes no keys (one sketch per
task) and ``sketch_by_key`` its group keys.  It feeds a string column
to a sketch with ``update_arrow`` as the Arrow array (the hashing
sketches read its UTF-8 buffers zero-copy) and every other column to
``update()`` through PySpark's own Arrow→pandas conversion, then emits
``state_slices(R)`` rows; a sketch with no byte-range layout, or a
keyed one, emits one whole-blob row.  Sliced sketches merge by a
groupBy(slice) reduce-scatter: each of R reduce tasks merges one byte
range of every partial and the driver concatenates the ranges.
One-row sketches collect ≤ W blobs and merge on the driver.  Either
way driver and per-reducer memory are bounded by R, not by the input's
partitions.

Checkpointing (north_rule): with ``checkpoint_dir`` the kernel output
is persisted to a Parquet state table with partition ids, lineage and
per-partition fill metrics; a rerun with the same params resumes
through the same merge without rescanning the source.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.base import Sketch

SLICED_SCHEMA = "slice long, blob binary, n_rows long, n_entry long, t_entry long"
_SLICED_COLS = [c.split()[0] for c in SLICED_SCHEMA.split(", ")]
#: bumped whenever the persisted kernel rows change shape, so a state
#: table written by another layout is rebuilt instead of misread
_CHECKPOINT_LAYOUT = 2
#: live keyed sketches one kernel task holds before it emits them all
#: and starts over: worker memory is this many sketches, whatever the
#: number of keys in the input
_KERNEL_MAX_KEYS = 1024


def _n_slices(spark: SparkSession) -> int:
    """R: the slice count of the reduce-scatter merge, and the kernel
    width of a sliced build."""
    return max(16, min(256, spark.sparkContext.defaultParallelism * 2))


def _one_wave(spark: SparkSession) -> int:
    """The kernel width of every build that emits whole blobs: one task
    per core, at most R."""
    return min(spark.sparkContext.defaultParallelism, _n_slices(spark))


def _uses_arrow(proto: Sketch, sdf: DataFrame, col: str) -> bool:
    return hasattr(proto, "update_arrow") and dict(sdf.dtypes)[col] == "string"


def _key_schema(df: DataFrame, keys: Sequence[str]) -> str:
    """DDL of the key columns with their types in ``df`` (defaulting
    every key to string silently corrupts numeric keys)."""
    type_of = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{k} {type_of[k]}" for k in keys)


def _pandas_conversion(timezone: str):
    """PySpark's own Arrow→pandas conversion, the one ``mapInPandas``
    applies (dates as ``datetime.date``, timestamps as naive wall times
    in the session time zone).  A plain ``Array.to_pandas()`` differs
    on timestamps, so sketches would see other values than under
    ``mapInPandas``.  The build kernels and the probe UDF share it."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer

    ser = ArrowStreamPandasSerializer(timezone, False, False)
    return lambda arr: ser.arrow_to_pandas(arr, 0)


def _kernel(
    make_sketch: Callable[[], Sketch],
    keys: Sequence[str],
    col: str,
    n_slices: int | None,
    *,
    arrow: bool,
    timezone: str,
    with_metrics: bool,
):
    """mapInArrow body: one sketch per (task, key tuple) — with no keys
    exactly one per task, an empty one included.  Each sketch emits its
    key columns and ``state_slices(n_slices)`` rows, or one whole-blob
    row when ``n_slices`` is None or the sketch has no byte-range
    layout.  Its counters ride on its first row; so do ``pid`` and
    ``metrics`` when checkpointing (``metrics()`` is not free: a Bloom
    popcount costs ~40 ms per 8 MiB partial).  A keyed task about to
    hold more than ``_KERNEL_MAX_KEYS`` sketches first emits all it
    holds and starts over, so one key may get several rows per task."""
    max_keys = _KERNEL_MAX_KEYS  # read here, so the workers see the driver's value

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        to_pandas = None if arrow else _pandas_conversion(timezone)
        states: dict[tuple, Sketch] = {} if keys else {(): make_sketch()}
        n_rows: dict[tuple, int] = {}
        key_types: list = []
        names = [*keys, *_SLICED_COLS] + (["pid", "metrics"] if with_metrics else [])

        def emit():
            for kv, sk in states.items():
                blobs = sk.state_slices(n_slices) if n_slices else None
                if blobs is None:
                    blobs = [sk.serialize()]
                pad = [0] * (len(blobs) - 1)
                # explicit key types: pa.array([None]) is null-typed and the
                # JVM cannot read it as the declared key column (null keys
                # crashed the job; pandas NaN keys normalize back to null)
                arrays = [pa.array([None if pd.isna(v) else v] * len(blobs), t) for v, t in zip(kv, key_types)]
                arrays += [
                    pa.array(range(len(blobs)), pa.int64()),
                    pa.array(blobs, pa.binary()),
                    pa.array([n_rows.get(kv, 0)] + pad, pa.int64()),
                    pa.array([getattr(sk, "n_entry", 0)] + pad, pa.int64()),
                    pa.array([getattr(sk, "t_entry", 0)] + pad, pa.int64()),
                ]
                if with_metrics:
                    arrays.append(pa.array([TaskContext.get().partitionId()] * len(blobs), pa.int64()))
                    arrays.append(pa.array([json.dumps(sk.metrics())] + [None] * len(pad), pa.string()))
                yield pa.record_batch(arrays, names=names)
            states.clear()
            n_rows.clear()

        for rb in batches:
            vals = rb.column(rb.schema.get_field_index(col))
            spans = [((), 0, rb.num_rows)]  # (key, start, len)
            if keys:
                key_types = [rb.schema.field(k).type for k in keys]
                # ONE take per batch: gather rows permuted into key order,
                # then hand each key a zero-copy contiguous slice — with
                # many keys this beats a per-key take by the number of keys
                groups = rb.select(list(keys)).to_pandas().groupby(list(keys), dropna=False, sort=False)
                spans, idx_blocks, pos = [], [], 0
                for kv, sub in groups:
                    ix = sub.index.to_numpy()
                    idx_blocks.append(ix)
                    spans.append((kv if isinstance(kv, tuple) else (kv,), pos, ix.size))
                    pos += ix.size
                if not spans:
                    continue
                vals = vals.take(pa.array(np.concatenate(idx_blocks)))
            if not arrow:
                vals = to_pandas(vals)
            for kv, start, ln in spans:
                sk = states.get(kv)
                if sk is None:
                    if len(states) >= max_keys:
                        yield from emit()
                    sk = states[kv] = make_sketch()
                if arrow:
                    sk.update_arrow(vals.slice(start, ln))
                else:
                    sk.update(vals.iloc[start : start + ln])
                n_rows[kv] = n_rows.get(kv, 0) + ln
        yield from emit()

    return fn


def _partials(
    df: DataFrame,
    col: str,
    make_sketch: Callable[[], Sketch],
    proto: Sketch,
    n_slices: int | None,
    *,
    repartition: int | None = None,
    with_metrics: bool = False,
) -> DataFrame:
    """Stage 1: the kernel DataFrame, R tasks wide when sliced (then
    ``n_slices`` is R) and one wave wide otherwise.  ``select(col)``
    first so Catalyst prunes columns at the scan; ``proto`` is only
    inspected (a GB-scale filter is real memory, so callers pass the
    one they already made)."""
    spark = df.sparkSession
    sdf = df.select(col)
    if repartition:
        sdf = sdf.repartition(repartition)
    kernel = _kernel(
        make_sketch,
        (),
        col,
        n_slices,
        arrow=_uses_arrow(proto, sdf, col),
        timezone=spark.conf.get("spark.sql.session.timeZone"),
        with_metrics=with_metrics,
    )
    schema = SLICED_SCHEMA + (", pid long, metrics string" if with_metrics else "")
    return sdf.coalesce(n_slices or _one_wave(spark)).mapInArrow(kernel, schema)


def _driver_merge(partials: DataFrame, proto: Sketch) -> Sketch:
    """Collect the whole-blob rows (≤ one wave) and merge them on the driver;
    ``proto`` (the empty sketch) when the input had no partitions."""
    blobs = [bytes(r["blob"]) for r in partials.select("blob").collect()]
    return Sketch.merge_blobs(blobs) if blobs else proto


def merged_partials(df: DataFrame, col: str, make_sketch: Callable[[], Sketch]) -> Sketch:
    """The build kernel with whole-blob rows, merged on the driver: no
    shuffle, for small inputs such as streaming micro-batches.  The
    empty sketch when the input has no partitions."""
    proto = make_sketch()
    return _driver_merge(_partials(df, col, make_sketch, proto, None), proto)


def _merge_slices(partials: DataFrame, proto: Sketch, n_slices: int) -> Sketch:
    """Stage 2 of a sliced build: groupBy(slice) reduce-scatter.  Each of
    the ``n_slices`` reduce tasks ORs/adds only its byte range of every
    partial, so merge parallelism is R, and the driver concatenates."""
    cls, params = type(proto), proto.params()

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sidx = int(pdf["slice"].iloc[0])
        merged = cls.merge_slice_blobs(params, sidx, n_slices, [bytes(b) for b in pdf["blob"]])
        return pd.DataFrame(
            {
                "slice": [sidx],
                "blob": [merged],
                "n_rows": [int(pdf["n_rows"].sum())],
                "n_entry": [int(pdf["n_entry"].sum())],
                "t_entry": [int(pdf["t_entry"].sum())],
            }
        )

    rows = partials.select(*_SLICED_COLS).groupBy("slice").applyInPandas(merge_group, SLICED_SCHEMA).collect()
    if not rows:
        return proto  # the input had no partitions
    if len(rows) != n_slices:
        raise ValueError(f"expected {n_slices} merged slices, got {len(rows)}")
    rows.sort(key=lambda r: r["slice"])
    return cls.assemble_slices(
        params,
        [bytes(r["blob"]) for r in rows],
        n_entry=sum(r["n_entry"] for r in rows),
        t_entry=sum(r["t_entry"] for r in rows),
    )


def build_sketch(
    df: DataFrame,
    col: str,
    make_sketch: Callable[[], Sketch],
    *,
    repartition: int | None = None,
    checkpoint_dir: str | None = None,
    lineage: str = "",
) -> Sketch:
    """Distributed build of one sketch over ``df[col]`` (module docstring).

    With ``checkpoint_dir`` the kernel rows are persisted with lineage,
    partition ids and per-partition ``metrics()``; a rerun whose params
    and lineage match resumes from them instead of rescanning the
    source, with the slice count recorded at write time.
    ``checkpoint_dir`` must be a driver-visible local/shared POSIX path
    (see :func:`require_local_checkpoint_dir`).
    """
    spark = df.sparkSession
    proto = make_sketch()
    n_slices = _n_slices(spark) if proto.state_slices(2) is not None else None
    if checkpoint_dir:
        require_local_checkpoint_dir(checkpoint_dir)
        identity = {
            "cls": type(proto).__name__,
            "params": proto.checkpoint_params(),
            "col": col,
            "lineage": lineage,
            "layout": _CHECKPOINT_LAYOUT,
        }
        path = os.path.join(checkpoint_dir, "partials")
        record = _checkpoint_record(checkpoint_dir, identity)
        if record is not None:
            partials = spark.read.parquet(path)
            n_slices = record["n_slices"]
        else:
            partials = _partials(df, col, make_sketch, proto, n_slices, repartition=repartition, with_metrics=True)
            # invalidate BEFORE overwriting: a crash between writing new
            # partials and new params.json must not leave the OLD params
            # paired with NEW partials (a later run would silently resume
            # from mismatched state)
            marker = os.path.join(checkpoint_dir, "params.json")
            if os.path.exists(marker):
                os.remove(marker)
            partials.withColumn("lineage", F.lit(lineage)).write.mode("overwrite").parquet(path)
            with open(marker, "w") as f:
                json.dump({**identity, "n_slices": n_slices}, f, sort_keys=True)
            partials = spark.read.parquet(path)
    else:
        partials = _partials(df, col, make_sketch, proto, n_slices, repartition=repartition)
    if n_slices is not None:
        return _merge_slices(partials, proto, n_slices)
    return _driver_merge(partials, proto)


def require_local_checkpoint_dir(checkpoint_dir: str) -> None:
    """The checkpoint convention (Spark-written parquet data + a
    driver-written params.json/_SUCCESS marker pair) requires a
    DRIVER-VISIBLE local/shared POSIX path: with an HDFS/S3 URI the
    data would land remotely while the marker silently lands on the
    driver's disk and resume never triggers (ADVICE r4).  Fail fast on
    any non-file scheme instead; a remote store needs the markers
    routed through the Hadoop FileSystem API, which this library
    deliberately keeps out of its driver path.  Any URI scheme is
    rejected — including file:// , which Spark's writer would accept
    but the driver's open()/os.path marker I/O would mangle into a
    relative './file:...' path — pass the plain POSIX path instead."""
    if "://" in checkpoint_dir:
        scheme = checkpoint_dir.split("://", 1)[0]
        raise ValueError(
            f"checkpoint_dir must be a plain driver-visible local/shared "
            f"filesystem path (got scheme {scheme!r}: {checkpoint_dir!r}); "
            f"mount the store and pass the POSIX mount path (no file:// prefix)"
        )


def _checkpoint_record(checkpoint_dir: str, identity: dict) -> dict | None:
    """The params.json record of a complete checkpoint whose identity
    matches, else None (absent, unfinished, other params or layout)."""
    p = os.path.join(checkpoint_dir, "params.json")
    success = os.path.join(checkpoint_dir, "partials", "_SUCCESS")
    if not (os.path.exists(p) and os.path.exists(success)):
        return None
    with open(p) as f:
        try:
            record = json.load(f)
        except json.JSONDecodeError:  # torn write: rebuild, as for a mismatch
            return None
    stored = {k: v for k, v in record.items() if k != "n_slices"}
    return record if stored == json.loads(json.dumps(identity)) else None


# ---------------------------------------------------------------------------
# Grouped sketch aggregation (map-side partial agg + shuffle of blobs only)
# ---------------------------------------------------------------------------


def sketch_by_key(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    make_sketch: Callable[[], Sketch],
    finalize: Callable[[Sketch], float],
    out_col: str = "estimate",
    *,
    salt_partitions: int | None = None,
    out_type: str = "double",
) -> DataFrame:
    """Per-key sketch estimates with map-side partial aggregation.

    ``out_type`` is the DDL type of ``finalize``'s return value —
    default scalar ``double``; pass e.g. ``array<double>`` for
    multi-quantile finalizes (the value is emitted as-is then).  The
    output keys keep their types in ``df``; ``out_col`` may not be a
    key.

    One shuffle: the kernel (mapInArrow, one wave of
    min(defaultParallelism, R) tasks) builds one partial sketch per
    (task, key) — the sketch analog of a map-side combine, so only
    (key, blob) rows shuffle, never raw values — then one
    ``repartition(keys)`` stage merges per key and finalizes.  A task
    about to hold more than ``_KERNEL_MAX_KEYS`` sketches emits them and
    starts over, so worker memory does not grow with the number of keys.
    Each key thus receives at most one blob per task and flush: a hot
    key's fan-in is bounded by the kernel width, and ``salt_partitions``
    (once a groupBy(keys, salt) pre-merge stage that split hot keys
    across reducers) is accepted and adds no stage.
    """
    keys = list(keys)
    if out_col in keys:
        raise ValueError(f"out_col {out_col!r} is also a key column of sketch_by_key; pick another out_col")
    spark = df.sparkSession
    # the kernel and the merge see the keys as __key<i> (a key may be
    # named like one of their columns: slice, blob, …); the merge's
    # output schema names them back
    tmp = [f"__key{i}" for i in range(len(keys))]
    sdf = df.select(*[F.col(k).alias(t) for k, t in zip(keys, tmp)], col)
    kernel = _kernel(
        make_sketch,
        tmp,
        col,
        None,
        arrow=_uses_arrow(make_sketch(), sdf, col),
        timezone=spark.conf.get("spark.sql.session.timeZone"),
        with_metrics=False,
    )
    partials = sdf.coalesce(_one_wave(spark)).mapInArrow(kernel, f"{_key_schema(sdf, tmp)}, {SLICED_SCHEMA}")
    emit = (lambda sk: float(finalize(sk))) if out_type == "double" else finalize

    def merge(batches):
        """mapInPandas body: merge blobs per key WITHIN a hash-
        partitioned partition.  One Python call per PARTITION (a
        groupBy().applyInPandas here pays per-GROUP call overhead —
        at thousands of keys that dominates the whole job)."""
        acc: dict[tuple, Sketch] = {}
        for pdf in batches:
            for kv, sub in pdf.groupby(tmp, dropna=False, sort=False):
                if not isinstance(kv, tuple):
                    kv = (kv,)
                sk = Sketch.merge_blobs([bytes(b) for b in sub["blob"]])
                prev = acc.get(kv)
                acc[kv] = sk if prev is None else prev.merge(sk)
        if acc:
            rows = {k: [kv[i] for kv in acc] for i, k in enumerate(keys)}
            rows[out_col] = [emit(sk) for sk in acc.values()]
            yield pd.DataFrame(rows)

    merged = partials.select(*tmp, "blob").repartition(*tmp)
    return merged.mapInPandas(merge, f"{_key_schema(df, keys)}, {out_col} {out_type}")
