"""Structured Streaming sketch accumulation.

The reference is a batch library (SURVEY §2.8) and the north rule is
batch too, but every sketch here is an associative, commutative
accumulator, so streaming ingestion is just: per micro-batch build
partials (the same mapInArrow kernel as plans.agg.build_sketch, one
whole blob per partition) → driver merge into a persisted running
sketch.  `foreachBatch` gives exactly-once micro-batch
semantics with the stream's own checkpointing; the running sketch is
re-persisted atomically per batch (write-new + rename).

This is the `applyInPandasWithState`-free design: state is one
bounded blob (m bits / registers), not per-key rows, so a single
driver-side merge per micro-batch is cheaper than a keyed state
store.  Per-key streaming sketches use
:func:`stream_windowed_sketch_by_key`, whose watermark frees each
(window, key)'s state, so keyed state stays bounded too.

Replay semantics: foreachBatch is AT-LEAST-ONCE — after a failure the
same micro-batch (same batch_id) can be delivered again.  The state
file therefore carries the last merged batch_id, and a replayed batch
with batch_id <= last_merged is skipped, making the merge idempotent
(this matters for non-idempotent sketches: CountingBloomFilter / CMS
would double-count, and n_entry/t_entry would inflate for all).
"""

from __future__ import annotations

import os
import struct
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame

from ..operators.base import Sketch
from ..plans.agg import _key_schema, merged_partials

_STATE_MAGIC = b"BFSTRM02"  # magic + int64 batch_id + u32 len + lineage + blob


def _read_state(path: Path) -> tuple[int, str, Sketch | None]:
    """(last_merged_batch_id, lineage, sketch); (-1, "", None) when the
    file is absent."""
    if not path.exists():
        return -1, "", None
    raw = path.read_bytes()
    if raw[:8] != _STATE_MAGIC:
        raise ValueError(f"{path} is not a streaming state file (no {_STATE_MAGIC.decode()} header)")
    # zero-padded so a file shorter than the 20-byte header still
    # unpacks: its declared end, 20 + ln, then lies past the file's end
    last_id, ln = struct.unpack("<qI", raw[8:20].ljust(12, b"\0"))
    if len(raw) <= 20 + ln:
        raise ValueError(
            f"{path} is a truncated streaming state file: {len(raw)} bytes, but its header "
            f"and {ln}-byte lineage end at byte {20 + ln} with no sketch after them"
        )
    lineage = raw[20 : 20 + ln].decode()
    return last_id, lineage, Sketch.deserialize(raw[20 + ln :])


def _start_foreach_batch(stream_df: DataFrame, checkpoint_dir, on_batch, trigger_available_now: bool):
    """Start ``on_batch`` as the query's foreachBatch sink under
    ``checkpoint_dir``; with ``trigger_available_now`` the query drains
    what is available and stops."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", str(checkpoint_dir))
        .foreachBatch(on_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_state(path: Path, batch_id: int, lineage: str, sketch: Sketch) -> None:
    # unique tmp PER TARGET: with_suffix would collide for sibling
    # state files sharing a stem ('run.bloom' and 'run.hll' → 'run.tmp')
    tmp = path.with_name(path.name + ".tmp")
    lb = lineage.encode()
    tmp.write_bytes(
        _STATE_MAGIC + struct.pack("<qI", batch_id, len(lb)) + lb + sketch.serialize()
    )
    os.replace(tmp, path)  # single atomic replace: id + blob never skew


def _commit(
    path: Path, lineage: str, batch_id: int, step: Callable[[Sketch | None], Sketch]
) -> Sketch | None:
    """Apply one micro-batch to the state file at ``path`` exactly once
    and return the sketch it then holds (None: absent and not written).

    Batch ids are only meaningful WITHIN one checkpoint lineage (a
    fresh checkpoint restarts them at 0 and regroups source files), so
    a sketch stored under any other lineage — the empty one of
    ``merge_batch_into(lineage="")`` included — raises instead of
    silently dropping or double-counting batches.  A ``batch_id`` <=
    the stored one is a replay and returns the stored sketch
    untouched; otherwise ``step(stored)`` — the batch's own work,
    given None when the file is absent — is persisted under
    ``batch_id`` (write-new + rename)."""
    last_id, stored, sketch = _read_state(path)
    if sketch is not None and stored != lineage:
        raise ValueError(
            f"state file {path} was built under checkpoint lineage "
            f"{stored!r} but this query runs under {lineage!r}; micro-batch "
            "ids are not comparable across checkpoint lineages — use a fresh "
            "state file per checkpoint (or the same checkpoint dir to resume)"
        )
    if batch_id <= last_id:
        return sketch
    sketch = step(sketch)
    _write_state(path, batch_id, lineage, sketch)
    return sketch


def merge_batch_into(
    running_path: str | Path,
    batch_df: DataFrame,
    col: str,
    make_sketch: Callable[[], Sketch],
    *,
    batch_id: int,
    lineage: str = "",
) -> Sketch:
    """Build a sketch of batch_df[col] and merge it into the sketch
    persisted at running_path (created if absent).  Atomic replace.

    ``batch_id`` (foreachBatch's micro-batch id) makes the merge an
    idempotent replay guard: a batch whose id is <= the persisted
    last-merged id is skipped, so at-least-once redelivery never
    double-counts; an empty batch still advances the id.  ``lineage``
    — the checkpoint identity — is persisted with the state; a state
    file of another lineage raises (:func:`_commit`)."""

    def merge(running: Sketch | None) -> Sketch:
        batch_sketch = merged_partials(batch_df, col, make_sketch)
        return batch_sketch if running is None else running.merge(batch_sketch)

    running = _commit(Path(running_path), lineage, batch_id, merge)
    return running if running is not None else make_sketch()


def stream_build_sketch(
    stream_df: DataFrame,
    col: str,
    make_sketch: Callable[[], Sketch],
    *,
    state_path: str | Path,
    checkpoint_dir: str | Path,
    trigger_available_now: bool = True,
):
    """readStream → foreachBatch(accumulate) → running sketch on disk.

    Returns the StreamingQuery; callers await termination then load
    the final sketch with ``load_running(state_path)``.
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into(
            state_path, batch_df, col, make_sketch, batch_id=batch_id, lineage=str(checkpoint_dir)
        )

    return _start_foreach_batch(stream_df, checkpoint_dir, on_batch, trigger_available_now)


def load_running(state_path: str | Path) -> Sketch:
    _, _, sk = _read_state(Path(state_path))
    if sk is None:
        raise FileNotFoundError(state_path)
    return sk


def stream_insert_online_mibf(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    state_path: str | Path,
    checkpoint_dir: str | Path,
    initial=None,
    max_count: int = 1,
    strand: bool = False,
    trigger_available_now: bool = True,
):
    """Streaming ONLINE miBF insert — the reference's mutable-filter
    path (MIBloomFilter.hpp:309-438) as trickle ingestion.

    The miBF is NOT a mergeable accumulator (its 3-pass batch build is
    plans-level, operators/mibf.build_mibf), but the reference also
    supports sequential online insertion into a frozen bit vector; this
    is that path under foreachBatch: each micro-batch's (id, text) rows
    are collected to the driver (trickle-scale by definition — bulk
    loads belong to build_mibf), applied via insert_seq_online[_strand]
    in deterministic (id, text) order, and the filter re-persisted
    atomically with the same batch-id replay guard as
    :func:`merge_batch_into` — at-least-once redelivery never
    double-inserts.

    Requirement inherited from the reference: the filter's BIT VECTOR
    must already contain every incoming element's k-mer windows (the
    reference builds the BV over all data first — getEmptyMIBF — then
    inserts IDs online).  Seed the state with ``initial=`` (a built
    MIBloomFilter) on first run.

    Returns the StreamingQuery; load the final filter with
    :func:`load_running`.
    """
    state_path = Path(state_path)
    lineage = str(checkpoint_dir)
    if initial is not None and not state_path.exists():
        _write_state(state_path, -1, lineage, initial)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        def insert(mibf: Sketch | None) -> Sketch:
            if mibf is None:
                raise FileNotFoundError(
                    f"{state_path}: seed the online-insert state with initial= "
                    f"(a miBF whose bit vector covers the stream's elements)"
                )
            rows = batch_df.select(id_col, text_col).collect()
            for r in sorted(rows, key=lambda r: (int(r[0]), str(r[1]))):
                if strand:
                    mibf.insert_seq_online_strand(str(r[1]), int(r[0]), max_count)
                else:
                    mibf.insert_seq_online(str(r[1]), int(r[0]), max_count)
            return mibf

        _commit(state_path, lineage, batch_id, insert)

    return _start_foreach_batch(stream_df, checkpoint_dir, on_batch, trigger_available_now)


_KEYED_STATE = "blob binary, n long"  # group state of the keyed operators: sketch + rows in it


def _keyed_load(state, make_sketch: Callable[[], Sketch]) -> tuple[Sketch, int]:
    """(sketch, rows folded in) of a group's ``_KEYED_STATE``; a fresh
    ``make_sketch()`` and 0 for a group with no state yet."""
    if not state.exists:
        return make_sketch(), 0
    blob, n = state.get
    return Sketch.deserialize(bytes(blob)), int(n)


def stream_keyed_online_mibf(
    stream_df: DataFrame,
    keys: list[str],
    text_col: str,
    id_col: str,
    make_initial: Callable[[], Sketch],
    *,
    max_count: int = 1,
    strand: bool = False,
    emit_blob: bool = False,
):
    """Keyed streaming ONLINE miBF build via ``applyInPandasWithState``
    — the remaining streaming frontier from r4: per-key filter blobs
    live in Spark's MANAGED state store (checkpointed transactionally
    with the query), each micro-batch's rows shuffle to their key's
    partition and are inserted executor-side in the reference's
    sequential online order (MIBloomFilter.hpp:309-438), deterministic
    within a batch by (id, text) sort — the same order contract as
    :func:`stream_insert_online_mibf`.

    Replay semantics: unlike foreachBatch (at-least-once, manual
    batch-id guard), the state store commits per micro-batch with the
    checkpoint, so a failure replays the batch against the PREVIOUS
    committed state version — idempotent by construction, no guard
    needed.  A restarted query (same checkpoint) resumes every key's
    filter where it left off.

    ``make_initial`` returns a fresh seeded filter for an unseen key —
    the reference requires the bit vector to already cover the
    incoming elements' windows (getEmptyMIBF-then-insert), so
    typically ``lambda: Sketch.deserialize(template_blob)`` with a
    template whose BV was built over the key's corpus.  It runs on
    executors and must be picklable.

    Scale shape: one shuffle per batch keyed by ``keys`` (the state
    store's own partitioning), insertion is per-key-sequential exactly
    like the reference's single-writer semantics — parallelism comes
    from the number of keys, which is the honest upper bound for a
    mutable-filter path; bulk loads still belong to build_mibf.

    Emits per updated key: keys + n_inserted (cumulative) +
    occupied_frac + saturated_frac (+ the serialized filter blob with
    ``emit_blob=True`` — at scale leave it off and read state via the
    emitted metrics, extracting blobs only at end-of-stream).
    Start with ``.writeStream.outputMode("update")``.
    """
    import pandas as pd

    out_schema = f"{_key_schema(stream_df, keys)}, n_inserted long, occupied_frac double, saturated_frac double"
    if emit_blob:
        out_schema += ", blob binary"

    def update_fn(key, pdf_iter, state):
        from ..operators.mibf import SAT_BIT

        mibf, n_ins = _keyed_load(state, make_initial)
        rows = []
        for pdf in pdf_iter:
            rows.extend(zip((int(v) for v in pdf[id_col]), (str(t) for t in pdf[text_col])))
        rows.sort()
        insert = mibf.insert_seq_online_strand if strand else mibf.insert_seq_online
        for rid, text in rows:
            insert(text, rid, max_count)
        n_ins += len(rows)
        blob = mibf.serialize()
        state.update((blob, n_ins))
        occupied = mibf.data != 0
        occ = float(occupied.mean()) if mibf.data.size else 0.0
        sat = (
            float(((mibf.data & SAT_BIT) != 0)[occupied].mean()) if occupied.any() else 0.0
        )
        out = {k: [v] for k, v in zip(keys, key)}
        out["n_inserted"] = [n_ins]
        out["occupied_frac"] = [occ]
        out["saturated_frac"] = [sat]
        if emit_blob:
            out["blob"] = [blob]
        yield pd.DataFrame(out)

    return stream_df.groupBy(*keys).applyInPandasWithState(
        update_fn, out_schema, _KEYED_STATE, "update", "NoTimeout"
    )


def stream_windowed_sketch_by_key(
    stream_df: DataFrame,
    ts_col: str,
    keys: list[str],
    col: str,
    make_sketch: Callable[[], Sketch],
    finalize: Callable[[Sketch], float],
    *,
    window_duration: str = "10 seconds",
    watermark_delay: str = "0 seconds",
    out_col: str = "estimate",
):
    """Event-time-windowed per-key sketch aggregation with
    watermark-governed late-data handling — the brief's "watermarks +
    windowed aggs" for sketch state that built-in aggregates cannot
    hold.

    One sketch blob per (event-time window, key) lives in the managed
    state store (``applyInPandasWithState`` with EventTimeTimeout):
    each micro-batch merges its rows and emits a PROVISIONAL row
    (``is_final = false``); when the watermark passes the window end
    the state times out and the group emits one FINAL row
    (``is_final = true``) and frees its state.  Rows arriving after
    their window's finalization are dropped (Spark's watermark filter
    plus an in-operator guard: a late group whose window end <= the
    current watermark is ignored rather than resurrected).

    Plan/scale notes: ONE shuffle (the keyed state partitioning);
    state volume is one blob per LIVE window x key — the watermark
    bounds liveness, so state does not grow with stream length.
    Start with ``.writeStream.outputMode("update")``.
    """
    import pandas as pd

    from pyspark.sql import functions as F

    out_schema = (
        f"win_start timestamp, win_end timestamp, {_key_schema(stream_df, keys)}, "
        f"{out_col} double, n_rows long, is_final boolean"
    )
    # the window struct reaches the Python worker as a NAIVE datetime
    # rendered in the SESSION timezone; treating it as UTC would skew
    # setTimeoutTimestamp/the late-group guard by the tz offset on any
    # non-UTC cluster — capture the session tz at operator build time
    session_tz = (
        stream_df.sparkSession.conf.get("spark.sql.session.timeZone", None) or "UTC"
    )

    def update_fn(key, pdf_iter, state):
        w = key[0]  # window struct: dict {'start','end'} or Row/tuple
        if isinstance(w, dict):
            w_start, w_end = w["start"], w["end"]
        else:
            w_start, w_end = w[0], w[1]
        key_part = key[1:]
        end_ts = pd.Timestamp(w_end)
        if end_ts.tzinfo is None:
            # DST-ambiguous wall times resolve to the post-transition
            # offset — a one-hour, twice-a-year skew bound; pass UTC
            # session tz (the Spark default worth setting) to avoid it
            end_ts = end_ts.tz_localize(
                session_tz, ambiguous=False, nonexistent="shift_forward"
            )
        end_ms = int(end_ts.value // 1_000_000)

        def row(sk, n, final):
            out = {"win_start": [w_start], "win_end": [w_end]}
            for k, v in zip(keys, key_part):
                out[k] = [v]
            out[out_col] = [float(finalize(sk))]
            out["n_rows"] = [n]
            out["is_final"] = [final]
            return pd.DataFrame(out)

        if state.hasTimedOut:
            if state.exists:
                sk, n = _keyed_load(state, make_sketch)
                state.remove()
                yield row(sk, n, True)
            return
        if state.getCurrentWatermarkMs() >= end_ms:
            # late group: its window already closed — do not resurrect
            for _ in pdf_iter:
                pass
            return
        sk, n = _keyed_load(state, make_sketch)
        for pdf in pdf_iter:
            sk.update(pdf[col])
            n += len(pdf)
        state.update((sk.serialize(), n))
        state.setTimeoutTimestamp(end_ms)
        yield row(sk, n, False)

    # the window struct inherits the event-time tag; the raw ts column
    # must go or Spark sees two event-time columns in one stream
    s = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .withColumn("__win", F.window(F.col(ts_col), window_duration))
        .drop(ts_col)
    )
    return s.groupBy("__win", *keys).applyInPandasWithState(
        update_fn, out_schema, _KEYED_STATE, "update", "EventTimeTimeout"
    )


def stream_dedup(
    stream_df: DataFrame,
    col: str,
    make_bloom: Callable[[], Sketch],
    *,
    out_dir: str | Path,
    state_path: str | Path,
    checkpoint_dir: str | Path,
    id_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming exact-pass dedup backed by a running Bloom filter —
    the classic "have I seen this text before?" stream stage.

    Contract (one-sided, from the Bloom no-false-negative law): a
    text the filter has NOT seen is CERTAINLY new, so **no duplicate
    ever survives** — across batches and within a batch.  The cost is
    one-sided too: a novel text can be falsely dropped with
    probability ≤ the filter's FPR (size ``make_bloom`` for the
    expected distinct count; the q92 board query measures the
    realized false-drop rate against the bound).  Build the filter
    with ``k=0`` (whole-string mode).

    Per micro-batch: (1) in-batch exact dedup (min ``id_col`` row per
    text when given, else any single row — dropDuplicates); (2) rows
    whose text the running filter already contains are dropped
    (broadcast Arrow probe, pure map); (3) survivors are written to
    ``out_dir/batch_id=N`` with mode=overwrite — a replayed batch
    rewrites the same directory byte-for-byte instead of appending
    duplicates; (4) the survivors' texts are folded into the running
    filter via the same batch-id-guarded atomic state write as
    :func:`stream_build_sketch`, so a replay neither double-inserts
    nor re-drops.

    Returns the StreamingQuery; read the deduped stream back with
    ``spark.read.parquet(str(out_dir))`` (batch_id is a partition
    column).
    """
    from pyspark.sql import functions as F

    from ..functions.probe import bloom_seen_fraction

    out_dir = Path(out_dir)
    state_path = Path(state_path)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        def dedup(bloom: Sketch | None) -> Sketch:
            spark = batch_df.sparkSession
            if id_col is not None:
                from pyspark.sql import Window

                w = Window.partitionBy(col).orderBy(id_col)
                kept = (
                    batch_df.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                kept = batch_df.dropDuplicates([col])
            if bloom is not None:
                kept = kept.where(bloom_seen_fraction(spark, bloom, F.col(col)) < 1.0)
            kept = kept.cache()
            try:
                kept.write.mode("overwrite").parquet(str(out_dir / f"batch_id={batch_id}"))
                add = merged_partials(kept, col, make_bloom)
                return add if bloom is None else bloom.merge(add)
            finally:
                kept.unpersist()

        # a replay skips dedup: output dir + filter state already committed
        _commit(state_path, str(checkpoint_dir), batch_id, dedup)

    return _start_foreach_batch(stream_df, checkpoint_dir, on_batch, trigger_available_now)
