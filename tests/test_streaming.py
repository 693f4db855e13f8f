"""Structured Streaming sketch accumulation: a file-source stream
consumed micro-batch-wise must yield the same Bloom filter as one
batch build over the union (OR-merge law extended to time)."""

from pathlib import Path

import numpy as np
import pytest

from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.plans.agg import build_sketch
from btl_bloomfilter_spark.streaming.accumulate import load_running, stream_build_sketch


@pytest.mark.spark
def test_stream_equals_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    all_docs = []
    # three "arrivals" of data as separate parquet files
    for part in range(3):
        docs = [f"stream doc {part}-{i} payload tokens" for i in range(100)]
        all_docs += docs
        spark.createDataFrame([(d,) for d in docs], "text string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    mk = lambda: BloomFilter(1 << 16, 4, 8)
    stream = spark.readStream.schema("text string").option("maxFilesPerTrigger", "2").parquet(str(src))
    q = stream_build_sketch(
        stream,
        "text",
        mk,
        state_path=tmp_path / "running.sketch",
        checkpoint_dir=tmp_path / "ckpt",
    )
    q.awaitTermination(120)

    running = load_running(tmp_path / "running.sketch")
    batch = build_sketch(spark.createDataFrame([(d,) for d in all_docs], "text string"), "text", mk)
    np.testing.assert_array_equal(running.bits, batch.bits)
    assert running.n_entry == batch.n_entry
    # restart with no new files → state unchanged (idempotent resume)
    stream2 = spark.readStream.schema("text string").parquet(str(src))
    q2 = stream_build_sketch(
        stream2, "text", mk, state_path=tmp_path / "running.sketch", checkpoint_dir=tmp_path / "ckpt"
    )
    q2.awaitTermination(60)
    again = load_running(tmp_path / "running.sketch")
    np.testing.assert_array_equal(again.bits, batch.bits)


@pytest.mark.spark
def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering the same batch_id
    must NOT double-count (counting sketches are not idempotent)."""
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import merge_batch_into

    mk = lambda: CountingBloomFilter(1 << 14, 3, 0, counter_bits=32)
    state = tmp_path / "run.sketch"
    bdf = spark.createDataFrame([("aaa",)] * 10 + [("bbb",)] * 5, "text string")
    merge_batch_into(state, bdf, "text", mk, batch_id=0)
    first = load_running(state).estimate_batch(["aaa", "bbb"])
    # replay of batch 0 → skipped
    merge_batch_into(state, bdf, "text", mk, batch_id=0)
    replay = load_running(state).estimate_batch(["aaa", "bbb"])
    np.testing.assert_array_equal(first, replay)
    # genuinely new batch id → merged
    merge_batch_into(state, bdf, "text", mk, batch_id=1)
    second = load_running(state).estimate_batch(["aaa", "bbb"])
    assert second[0] == first[0] * 2 and second[1] == first[1] * 2


@pytest.mark.spark
def test_state_rejects_foreign_checkpoint_lineage(spark, tmp_path):
    """Micro-batch ids restart at 0 under a fresh checkpoint, so
    merging a NEW query lineage into an OLD state file must raise
    (silently comparing ids would drop/double-count batches)."""
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import merge_batch_into

    mk = lambda: CountingBloomFilter(1 << 12, 3, 0, counter_bits=32)
    state = tmp_path / "lin.sketch"
    bdf = spark.createDataFrame([("x",)] * 5, "text string")
    merge_batch_into(state, bdf, "text", mk, batch_id=3, lineage="ckpt-A")
    with pytest.raises(ValueError, match="lineage"):
        merge_batch_into(state, bdf, "text", mk, batch_id=0, lineage="ckpt-B")
    # same lineage continues fine
    merge_batch_into(state, bdf, "text", mk, batch_id=4, lineage="ckpt-A")
    assert load_running(state).estimate_batch(["x"])[0] == 10


@pytest.mark.spark
@pytest.mark.parametrize("layout", ["v1", "bare_blob", "short_header", "lineage_past_end", "no_envelope"])
def test_state_file_of_another_layout_raises(spark, tmp_path, layout):
    """Only a whole BFSTRM02 file is a state file: an older header, a
    bare ``Sketch.serialize()`` blob, or a BFSTRM02 file cut short
    (inside its 20-byte header, inside its lineage, or right after it)
    raises ValueError, naming the path, from both ``load_running`` and
    ``merge_batch_into``, and leaves the file untouched."""
    import struct

    from btl_bloomfilter_spark.streaming.accumulate import merge_batch_into

    mk = lambda: BloomFilter(1 << 12, 3, 0)
    sk = mk()
    sk.update(["x", "y"])
    state = tmp_path / "old.sketch"
    raw = {
        "v1": b"BFSTRM01" + struct.pack("<q", 4) + sk.serialize(),
        "bare_blob": sk.serialize(),
        "short_header": b"BFSTRM02" + b"\x04\x00\x00",
        "lineage_past_end": b"BFSTRM02" + struct.pack("<qI", 4, 100) + b"ck-",
        "no_envelope": b"BFSTRM02" + struct.pack("<qI", 4, 3) + b"ck-",
    }[layout]
    state.write_bytes(raw)
    with pytest.raises(ValueError, match="old.sketch"):
        load_running(state)
    bdf = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="old.sketch"):
        merge_batch_into(state, bdf, "text", mk, batch_id=5)
    assert state.read_bytes() == raw


@pytest.mark.spark
def test_crash_between_write_and_rename_keeps_state(spark, tmp_path, monkeypatch):
    """A crash after the new state is written but before it replaces
    the old one (``os.replace`` raising) leaves the state file
    byte-identical; the leftover ``.tmp`` is never read, and the
    redelivered batch merges exactly once."""
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.streaming import accumulate
    from btl_bloomfilter_spark.streaming.accumulate import merge_batch_into

    mk = lambda: CountingBloomFilter(1 << 12, 3, 0, counter_bits=32)
    state = tmp_path / "crash.sketch"
    bdf = spark.createDataFrame([("aaa",)] * 4 + [("bbb",)] * 2, "text string")
    merge_batch_into(state, bdf, "text", mk, batch_id=0)
    before = state.read_bytes()
    first = load_running(state).estimate_batch(["aaa", "bbb"])

    real_replace, crashes = accumulate.os.replace, []

    def replace_crashing_once(src, dst):
        if Path(dst) == state and not crashes:
            crashes.append(src)
            raise OSError("simulated crash before rename")
        real_replace(src, dst)

    monkeypatch.setattr(accumulate.os, "replace", replace_crashing_once)
    with pytest.raises(OSError, match="simulated crash"):
        merge_batch_into(state, bdf, "text", mk, batch_id=1)
    assert state.read_bytes() == before
    assert (tmp_path / "crash.sketch.tmp").exists()
    np.testing.assert_array_equal(load_running(state).estimate_batch(["aaa", "bbb"]), first)

    merge_batch_into(state, bdf, "text", mk, batch_id=1)  # redelivery
    merge_batch_into(state, bdf, "text", mk, batch_id=1)  # and its replay
    np.testing.assert_array_equal(load_running(state).estimate_batch(["aaa", "bbb"]), first * 2)


@pytest.mark.spark
def test_zero_partition_batch_advances_batch_id(spark, tmp_path):
    """A micro-batch with no partitions merges the empty sketch: the
    state file records its id, like a zero-row batch, so a replay of
    that id is skipped."""
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import _read_state, merge_batch_into

    mk = lambda: CountingBloomFilter(1 << 12, 3, 0, counter_bits=32)
    state = tmp_path / "empty.sketch"
    bdf = spark.createDataFrame([("x",)] * 3, "text string")
    empty = bdf.where("false")
    assert empty.rdd.getNumPartitions() == 0
    merge_batch_into(state, empty, "text", mk, batch_id=7)
    last_id, _, sk = _read_state(state)
    assert last_id == 7 and sk.serialize() == mk().serialize()
    merge_batch_into(state, bdf, "text", mk, batch_id=7)  # replay: skipped
    assert load_running(state).estimate_batch(["x"])[0] == 0
    merge_batch_into(state, bdf, "text", mk, batch_id=8)
    assert load_running(state).estimate_batch(["x"])[0] == 3


@pytest.mark.spark
def test_probe_and_classify_work_on_streams(spark, tmp_path):
    """The broadcast probe paths are plain maps, so they must compose
    with Structured Streaming unchanged: a file-source stream screened
    by a prebuilt Bloom (contamination_screen with bloom=) and
    classified by a prebuilt miBF (with_classification) into a memory
    sink must produce exactly the batch results."""
    from pyspark.sql import functions as F

    from btl_bloomfilter_spark.operators.decontam import contamination_screen
    from btl_bloomfilter_spark.operators.mibf import build_mibf, with_classification

    rows = [(i, f"ref{i % 3} token{i} alpha beta gamma delta epsilon", i % 3 + 1) for i in range(90)]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string, src_id long")
    mibf = build_mibf(batch_df, "text", "src_id", m_bits=1 << 16, hash_num=3, k=8)
    bench = batch_df.where(F.col("src_id") == 1).select("text")
    _, bloom = contamination_screen(batch_df.limit(1), bench, "text", k=8)

    src = tmp_path / "probe_src"
    src.mkdir()
    batch_df.coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string, src_id long").parquet(str(src))
    screened, _ = contamination_screen(
        stream.select("doc_id", "text"), None, "text", k=8, bloom=bloom
    )
    classified = with_classification(
        stream.select("doc_id", "text", "src_id"), mibf, "text", keep=["doc_id", "src_id"]
    )
    q1 = (
        screened.writeStream.format("memory").queryName("scr").outputMode("append").trigger(
            availableNow=True
        ).start()
    )
    q2 = (
        classified.writeStream.format("memory").queryName("cls").outputMode("append").trigger(
            availableNow=True
        ).start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    got_scr = spark.sql("select * from scr").toPandas().sort_values("doc_id").reset_index(drop=True)
    got_cls = spark.sql("select * from cls").toPandas().sort_values("doc_id").reset_index(drop=True)
    want_scr, _ = contamination_screen(batch_df.select("doc_id", "text"), None, "text", k=8, bloom=bloom)
    want_scr = want_scr.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert (got_scr.contamination_frac == want_scr.contamination_frac).all()
    # src_id==1 docs fully contaminated, others bounded below 1
    assert (got_scr.contamination_frac[want_scr.doc_id % 3 == 0] == 1.0).all()
    want_cls = (
        with_classification(batch_df.select("doc_id", "text", "src_id"), mibf, "text", keep=["doc_id", "src_id"])
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert (got_cls.best_id == want_cls.best_id).all()
    assert (got_cls.frames == want_cls.frames).all()


@pytest.mark.spark
def test_stream_insert_online_mibf(spark, tmp_path):
    """Streaming online miBF insert: bit vector pre-built over ALL
    elements (the reference's getEmptyMIBF-then-insert pattern), a
    seed set inserted driver-side, the rest trickled through
    foreachBatch — final filter classifies every id correctly and a
    restart over the same checkpoint is a no-op (idempotent replay)."""
    from btl_bloomfilter_spark.operators.mibf import MIBloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import (
        load_running,
        stream_insert_online_mibf,
    )

    rng = np.random.default_rng(31)
    texts = {
        i: "".join(rng.choice(list("ACGT"), size=200)) for i in range(1, 13)
    }
    bf = BloomFilter(1 << 16, 3, 9)
    bf.update(list(texts.values()))
    mibf = MIBloomFilter(1 << 16, 3, 9)
    mibf.freeze(bf.bits.copy())
    for i in (1, 2, 3):  # seed set inserted up front
        mibf.insert_seq_online(texts[i], i)
    src = tmp_path / "mibf_src"
    src.mkdir()
    stream_rows = [(i, texts[i]) for i in range(4, 13)]
    spark.createDataFrame(stream_rows, "rid long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    state = tmp_path / "running.mibf"
    stream = spark.readStream.schema("rid long, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    q = stream_insert_online_mibf(
        stream, "text", "rid", state_path=state, checkpoint_dir=tmp_path / "ck", initial=mibf
    )
    q.awaitTermination(120)
    final = load_running(state)
    out = final.classify_batch([texts[i] for i in range(1, 13)])
    assert out.best_id.tolist() == list(range(1, 13))
    blob1 = final.serialize()
    # restart over the same checkpoint: replay guard → state unchanged
    stream2 = spark.readStream.schema("rid long, text string").parquet(str(src))
    q2 = stream_insert_online_mibf(
        stream2, "text", "rid", state_path=state, checkpoint_dir=tmp_path / "ck"
    )
    q2.awaitTermination(60)
    assert load_running(state).serialize() == blob1


@pytest.mark.spark
def test_stream_insert_online_mibf_rejects_foreign_lineage(spark, tmp_path):
    """A miBF state file written under another checkpoint lineage must
    not drive this query's replay guard: the first micro-batch raises
    and the file stays byte-unchanged."""
    from btl_bloomfilter_spark.operators.mibf import MIBloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import _write_state, stream_insert_online_mibf

    text = "ACGT" * 20
    bf = BloomFilter(1 << 12, 3, 9)
    bf.update([text])
    mibf = MIBloomFilter(1 << 12, 3, 9)
    mibf.freeze(bf.bits.copy())
    state = tmp_path / "running.mibf"
    _write_state(state, 5, str(tmp_path / "other_ck"), mibf)
    before = state.read_bytes()
    src = tmp_path / "src"
    spark.createDataFrame([(1, text)], "rid long, text string").coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("rid long, text string").parquet(str(src))
    q = stream_insert_online_mibf(stream, "text", "rid", state_path=state, checkpoint_dir=tmp_path / "ck")
    with pytest.raises(Exception, match="lineage"):
        q.awaitTermination(120)
    assert state.read_bytes() == before


def test_stream_keyed_online_mibf(spark, tmp_path):
    """Keyed streaming online miBF build (applyInPandasWithState):
    per-key filter blobs in managed state, each key's final filter
    classifies ITS ids correctly; a restarted query over the same
    checkpoint resumes state (new rows insert into the existing
    filters, old ids stay classified) — the state store's
    transactional commit replaces the foreachBatch batch-id guard."""
    from btl_bloomfilter_spark.operators.base import Sketch
    from btl_bloomfilter_spark.operators.mibf import MIBloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import stream_keyed_online_mibf

    rng = np.random.default_rng(41)
    texts = {i: "".join(rng.choice(list("ACGT"), size=200)) for i in range(1, 14)}
    grp_of = {i: (0 if i <= 6 else 1) for i in texts}
    grp_of[13] = 0  # late arrival for the restart leg
    bf = BloomFilter(1 << 16, 3, 9)
    bf.update(list(texts.values()))  # BV covers ALL ids incl. the late one
    template = MIBloomFilter(1 << 16, 3, 9)
    template.freeze(bf.bits.copy())
    blob = template.serialize()

    src = tmp_path / "keyed_src"
    src.mkdir()
    first = [(grp_of[i], i, texts[i]) for i in range(1, 13)]
    for chunk in (first[:5], first[5:]):
        spark.createDataFrame(chunk, "grp long, rid long, text string").coalesce(
            1
        ).write.mode("append").parquet(str(src))

    def start(sink):
        # memory sink can't recover from a checkpoint; foreachBatch can
        stream = (
            spark.readStream.schema("grp long, rid long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        out = stream_keyed_online_mibf(
            stream, ["grp"], "text", "rid",
            make_initial=lambda: Sketch.deserialize(blob),
            emit_blob=True,
        )
        return (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda bdf, bid: sink.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )

    rows = []
    q = start(rows)
    assert q.awaitTermination(180), "first streaming pass timed out"
    rows.sort(key=lambda r: r["n_inserted"])
    latest = {r["grp"]: r for r in rows}  # last (max n_inserted) per key wins
    assert latest[0]["n_inserted"] == 6 and latest[1]["n_inserted"] == 6
    for g in (0, 1):
        mibf = Sketch.deserialize(bytes(latest[g]["blob"]))
        ids = [i for i in range(1, 13) if grp_of[i] == g]
        got = mibf.classify_batch([texts[i] for i in ids])
        assert got.best_id.tolist() == ids

    # restart leg: append a late row for grp 0 and rerun on the SAME
    # checkpoint — grp 0's filter must resume (old ids intact, new id
    # inserted); grp 1 has no new rows, so no new update is emitted
    spark.createDataFrame(
        [(0, 13, texts[13])], "grp long, rid long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    rows2 = []
    q2 = start(rows2)
    assert q2.awaitTermination(180), "restart streaming pass timed out"
    assert {r["grp"] for r in rows2} == {0}
    (r0,) = [r for r in rows2 if r["grp"] == 0]
    assert r0["n_inserted"] == 7  # cumulative count resumed from state
    mibf0 = Sketch.deserialize(bytes(r0["blob"]))
    ids0 = [i for i in range(1, 14) if grp_of[i] == 0]
    got0 = mibf0.classify_batch([texts[i] for i in ids0])
    assert got0.best_id.tolist() == ids0


@pytest.mark.spark
def test_stream_windowed_sketch_with_watermark(spark, tmp_path):
    """Event-time windows + watermark: provisional updates per batch,
    ONE final row per (window, key) once the watermark passes the
    window end, and a row arriving after its window finalized is
    DROPPED (neither resurrects state nor changes the final)."""
    import datetime as dt
    import time as _time

    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.streaming.accumulate import stream_windowed_sketch_by_key

    def t(sec):
        return dt.datetime(2026, 1, 1, 0, 0, sec)

    src = tmp_path / "win_src"
    src.mkdir()
    batches = [
        # window [0,10): grp a rows at 1,3 (distinct u1,u2), grp b at 2
        [(t(1), "a", "u1"), (t(3), "a", "u2"), (t(2), "b", "u9")],
        # advances watermark to 25-5=20 after this batch; window [20,30)
        [(t(25), "a", "u3")],
        # LATE row for [0,10) (watermark 20 >= end 10) + a fresh row
        [(t(4), "a", "uLATE"), (t(26), "a", "u4")],
        # push watermark past 30 so [20,30) also finalizes
        [(t(40), "b", "u5")],
    ]
    for b in batches:
        spark.createDataFrame(b, "ts timestamp, grp string, uid string").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        _time.sleep(1.1)  # distinct mtimes → deterministic trigger order

    stream = (
        spark.readStream.schema("ts timestamp, grp string, uid string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = stream_windowed_sketch_by_key(
        stream, "ts", ["grp"], "uid", lambda: HyperLogLog(p=12), lambda s: s.estimate(),
        window_duration="10 seconds", watermark_delay="5 seconds",
    )
    rows = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "win_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "windowed streaming timed out"

    def win(r):
        return (r["win_start"].second, r["win_end"].second if r["win_end"].second else 60)

    finals = [r for r in rows if r["is_final"]]
    # exactly one final per (window, key) that had on-time data
    fkeys = {(win(r), r["grp"]): r for r in finals}
    assert ((0, 10), "a") in fkeys and ((0, 10), "b") in fkeys
    fa = fkeys[((0, 10), "a")]
    # the late 'uLATE' row is NOT in the final: 2 rows, ~2 distinct
    assert fa["n_rows"] == 2 and abs(fa["estimate"] - 2) < 0.1
    assert fkeys[((0, 10), "b")]["n_rows"] == 1
    # no duplicate finals, and no provisional for [0,10) AFTER its final
    assert len(finals) == len(fkeys)
    # window [20,30) finalized with both on-time rows (25, 26)
    assert ((20, 30), "a") in fkeys and fkeys[((20, 30), "a")]["n_rows"] == 2
    # provisional updates were emitted before finals
    assert any(not r["is_final"] and win(r) == (0, 10) and r["grp"] == "a" for r in rows)


@pytest.mark.spark
def test_stream_windowed_sketch_non_utc_session_tz(spark, tmp_path):
    """Review finding: the window struct reaches Python as a naive
    datetime in the SESSION timezone; treating it as UTC skews
    EventTimeTimeout by the tz offset.  Run the windowed operator
    under a non-UTC session tz and assert the finalization still
    fires exactly when the watermark passes the window end."""
    import datetime as dt
    import time as _time

    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.streaming.accumulate import stream_windowed_sketch_by_key

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        def t(sec):
            return dt.datetime(2026, 6, 1, 0, 0, sec)

        src = tmp_path / "tz_src"
        src.mkdir()
        batches = [
            [(t(1), "a", "u1"), (t(3), "a", "u2")],   # window [0,10)
            [(t(25), "a", "u3")],                     # watermark -> 20
            [(t(40), "a", "u4")],                     # watermark -> 35
        ]
        for b in batches:
            spark.createDataFrame(b, "ts timestamp, grp string, uid string").coalesce(
                1
            ).write.mode("append").parquet(str(src))
            _time.sleep(1.1)

        stream = (
            spark.readStream.schema("ts timestamp, grp string, uid string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        out = stream_windowed_sketch_by_key(
            stream, "ts", ["grp"], "uid",
            lambda: HyperLogLog(p=12), lambda s: s.estimate(),
            window_duration="10 seconds", watermark_delay="5 seconds",
        )
        rows = []
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "tz_ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), "tz streaming timed out"
        finals = [r for r in rows if r["is_final"]]
        # window [0,10) MUST have finalized (watermark 35 > end 10);
        # with the pre-fix UTC interpretation, end_ms was +4-5h and the
        # timeout would never fire within this stream
        f0 = [r for r in finals if r["win_start"].second == 0 and r["win_start"].minute == 0]
        assert len(f0) == 1 and f0[0]["n_rows"] == 2, finals
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


@pytest.mark.spark
def test_stream_dedup_cross_batch_and_restart(spark, tmp_path):
    """Streaming Bloom dedup: in-batch dups keep the min-id row,
    cross-batch dups are dropped, a restart over the same checkpoint
    processes only new files, and NO text ever appears twice in the
    output (the no-false-negative contract)."""
    from btl_bloomfilter_spark.operators.bloom import BloomFilter
    from btl_bloomfilter_spark.streaming.accumulate import stream_dedup

    src = tmp_path / "src"
    out = tmp_path / "out"
    state = tmp_path / "state.bloom"
    ck = tmp_path / "ck"
    src.mkdir()

    def write_file(rows, name):
        spark.createDataFrame(rows, "id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    # batch content is per-FILE under maxFilesPerTrigger=1
    write_file([(3, "A"), (1, "A"), (2, "B"), (4, "C")], "f1")  # in-batch dup A
    write_file([(5, "B"), (6, "D"), (7, "E")], "f2")            # cross-batch dup B

    def run():
        stream = spark.readStream.schema("id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src))
        q = stream_dedup(
            stream,
            "text",
            lambda: BloomFilter.for_capacity(10000, 1e-6, k=0),
            out_dir=out,
            state_path=state,
            checkpoint_dir=ck,
            id_col="id",
        )
        q.awaitTermination(120)

    run()
    got = {
        (r.id, r.text)
        for r in spark.read.parquet(str(out)).select("id", "text").collect()
    }
    assert got == {(1, "A"), (2, "B"), (4, "C"), (6, "D"), (7, "E")}

    # restart: one new file with a fresh text and two already-seen ones
    write_file([(8, "F"), (9, "A"), (10, "E")], "f3")
    run()
    df = spark.read.parquet(str(out)).select("id", "text").toPandas()
    assert set(map(tuple, df.itertuples(index=False))) == {
        (1, "A"), (2, "B"), (4, "C"), (6, "D"), (7, "E"), (8, "F"),
    }
    # the hard invariant: no text twice, ever
    assert df.text.is_unique


@pytest.mark.spark
def test_stream_dedup_rejects_empty_lineage_state(spark, tmp_path):
    """A state file seeded by ``merge_batch_into(..., lineage="")``
    belongs to another lineage: its batch ids must not drive this
    query's replay guard, so the first micro-batch raises and no
    ``batch_id=`` directory is written."""
    from btl_bloomfilter_spark.streaming.accumulate import merge_batch_into, stream_dedup

    mk = lambda: BloomFilter.for_capacity(1000, 1e-6, k=0)
    src, out, state = tmp_path / "src", tmp_path / "out", tmp_path / "state.bloom"
    spark.createDataFrame([("seed",)], "text string").coalesce(1).write.parquet(str(src / "seed"))
    merge_batch_into(state, spark.read.parquet(str(src / "seed")), "text", mk, batch_id=5, lineage="")
    spark.createDataFrame([("A",), ("B",)], "text string").coalesce(1).write.parquet(str(src / "in"))
    stream = spark.readStream.schema("text string").parquet(str(src / "in"))
    q = stream_dedup(stream, "text", mk, out_dir=out, state_path=state, checkpoint_dir=tmp_path / "ck")
    with pytest.raises(Exception, match="lineage"):
        q.awaitTermination(120)
    assert not list(out.glob("batch_id=*"))


@pytest.mark.spark
def test_stream_session_stats_matches_batch(spark, tmp_path):
    """Native session_window streaming sessionization: finalized
    sessions equal the batch sessionizer's rows exactly (start = first
    event, end = last event, n_events), late-closed sessions emit
    once, and a replay over the same checkpoint emits nothing."""
    import datetime as dt
    import time as _time

    from btl_bloomfilter_spark.operators.sessions import session_stats
    from btl_bloomfilter_spark.streaming.sessions import stream_session_stats

    def t(sec):
        return dt.datetime(2026, 1, 1, 0, 0) + dt.timedelta(seconds=sec)

    # gap 10s. u1: sessions {1,3,8}, {30,35}; u2: {2}, {50}
    rows1 = [(t(1), "u1"), (t(3), "u1"), (t(2), "u2")]
    rows2 = [(t(8), "u1"), (t(30), "u1"), (t(35), "u1")]
    rows3 = [(t(50), "u2"), (t(200), "u1")]  # 200 pushes watermark far
    src = tmp_path / "sess_src"
    src.mkdir()
    for b in (rows1, rows2, rows3):
        spark.createDataFrame(b, "ts timestamp, uid string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _time.sleep(1.1)

    def run(collector):
        stream = (
            spark.readStream.schema("ts timestamp, uid string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        out = stream_session_stats(
            stream, "ts", ["uid"], gap_seconds=10, watermark_delay="5 seconds"
        )
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(lambda bdf, bid: collector.extend(bdf.collect()))
            .option("checkpointLocation", str(tmp_path / "sess_ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), "session streaming timed out"
        return collector

    emitted = run([])
    got = {
        (r.uid, r.session_start.replace(tzinfo=None), r.session_end.replace(tzinfo=None), r.n_events)
        for r in emitted
    }
    # batch truth over the same rows
    batch_df = spark.createDataFrame(
        rows1 + rows2 + rows3, "ts timestamp, uid string"
    )
    truth = {
        (r.uid, r.session_start.replace(tzinfo=None), r.session_end.replace(tzinfo=None), r.n_events)
        for r in session_stats(batch_df, ["uid"], "ts", gap_seconds=10)
        .withColumnRenamed("start_ts", "session_start")
        .withColumnRenamed("end_ts", "session_end")
        .collect()
    }
    # every emitted session is a true batch session (exact equality)
    assert got <= truth, got - truth
    # all sessions ending before max_ts - watermark - gap are finalized
    cutoff = t(200 - 5 - 10)
    assert {s for s in truth if s[2] < cutoff} <= got
    # no duplicates
    assert len(emitted) == len(got)
    # replay over the finished checkpoint emits nothing
    assert run([]) == []


@pytest.mark.spark
def test_stream_session_stats_contract_errors(spark, tmp_path):
    from btl_bloomfilter_spark.streaming.sessions import stream_session_stats

    stream = spark.readStream.schema("ts timestamp, uid string").parquet(
        str(tmp_path)
    )
    with pytest.raises(ValueError, match="gap_seconds"):
        stream_session_stats(stream, "ts", ["uid"], gap_seconds=0, watermark_delay="1 hour")
    with pytest.raises(ValueError, match="key_cols"):
        stream_session_stats(stream, "ts", [], gap_seconds=10, watermark_delay="1 hour")
