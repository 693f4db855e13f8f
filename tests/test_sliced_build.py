"""One whole-sketch build plan: select → [repartition] → coalesce(R) →
one mapInArrow kernel → slice reduce-scatter or driver merge.

Topology is never semantic: across a partition sweep P ∈ {1, 3, R,
2R+5} exact sketches are byte-identical to a serial build and KLL /
t-digest stay inside the merge bounds of tests/test_quantiles.py.
Above R the build runs at most R tasks per stage and persists nothing.
R is patched to an odd value so byte ranges split unevenly.
"""

import uuid

import numpy as np
import pytest

from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
from btl_bloomfilter_spark.operators.countsketch import CountSketch

R = 9
SWEEP = (1, 3, R, 2 * R + 5)
N = 1500


@pytest.fixture
def small_r(monkeypatch):
    from btl_bloomfilter_spark.plans import agg

    monkeypatch.setattr(agg, "_n_slices", lambda spark: R)


def _table(spark, parts):
    """N rows in exactly ``parts`` partitions, with no shuffle: text
    (10-word docs), key (37 distinct strings) and x (doubles with
    nulls), each column with a few nulls."""
    from pyspark.sql import functions as F

    i = F.col("id")
    words = [F.concat(F.lit("w"), ((i * a + b) % 211).cast("string")) for a, b in zip(range(3, 33, 3), range(10))]
    null_every = lambda n, c: F.when(i % n == 0, F.lit(None)).otherwise(c)
    return spark.range(0, N, numPartitions=parts).select(
        null_every(97, F.concat_ws(" ", *words)).alias("text"),
        null_every(89, F.concat(F.lit("k"), (i % 37).cast("string"))).alias("key"),
        null_every(83, ((i * 7919) % 10007).cast("double") / 3.0).alias("x"),
    )


def _exact_cases():
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter, CountMinSketch
    from btl_bloomfilter_spark.operators.countsketch import CountSketch
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.operators.iblt import IBLT

    return [
        ("text", lambda: BloomFilter(1 << 16, 3, 6)),
        ("key", lambda: CountingBloomFilter(10_000, 3, 0, counter_bits=16)),
        ("key", lambda: CountSketch(1000, 5)),
        ("key", lambda: CountMinSketch.from_error(0.01, 0.01)),
        ("text", lambda: HyperLogLog(p=10)),
        ("key", lambda: IBLT(seglen=64, salt=3)),
    ]


def _tracked(spark, fn):
    """Run fn under a fresh job group; return (result, numTasks of every
    stage the group's jobs ran)."""
    sc = spark.sparkContext
    group = f"sweep-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    infos = [st.getStageInfo(s) for s in stages]
    return out, [info.numTasks for info in infos if info is not None]


@pytest.mark.spark
def test_partition_sweep_exact_sketches(spark, small_r, monkeypatch):
    from btl_bloomfilter_spark.plans.agg import build_sketch

    cls = type(spark.range(1))  # the concrete DataFrame class
    persisted = []
    real_persist = cls.persist
    monkeypatch.setattr(cls, "persist", lambda self, *a, **k: persisted.append(self) or real_persist(self, *a, **k))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    rows = _table(spark, 1).collect()
    for col, mk in _exact_cases():
        serial = mk()
        serial.update([r[col] for r in rows])
        for parts in SWEEP:
            df = _table(spark, parts)
            built, tasks = _tracked(spark, lambda: build_sketch(df, col, mk))
            name = f"{type(serial).__name__} P={parts}"
            assert built.serialize() == serial.serialize(), name
            assert tasks and max(tasks) <= R, (name, tasks)
    assert not persisted
    assert set(jsc.getPersistentRDDs().keySet()) <= before  # earlier tests' caches may be freed meanwhile


@pytest.mark.spark
def test_partition_sweep_quantiles(spark, small_r):
    from btl_bloomfilter_spark.operators.kll import KLL
    from btl_bloomfilter_spark.operators.tdigest import TDigest
    from btl_bloomfilter_spark.plans.agg import build_sketch
    from tests.test_quantiles import _rank_err

    data = np.array([r["x"] for r in _table(spark, 1).collect() if r["x"] is not None])
    for parts in SWEEP:
        df = _table(spark, parts)
        kll, tasks = _tracked(spark, lambda: build_sketch(df, "x", lambda: KLL(k=200, seed=5)))
        td = build_sketch(df, "x", lambda: TDigest(delta=200))
        assert kll.n == td.n == data.size
        assert max(tasks) <= R
        for q in (0.1, 0.5, 0.9):
            assert _rank_err(kll.quantile, data, q) <= 0.02, (parts, q)
            assert _rank_err(td.quantile, data, q) <= 0.015, (parts, q)


@pytest.mark.spark
def test_kernel_coalesces_above_r(spark, small_r):
    """A one-row sketch's kernel runs one wave: min(P,
    defaultParallelism, R) tasks of one blob each, so the driver
    collects at most that many blobs.  A sliced sketch's kernel keeps
    min(P, R) tasks of R slices each."""
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.plans import agg

    wave = spark.sparkContext.defaultParallelism
    mk = lambda: HyperLogLog(p=10)
    bf = lambda: BloomFilter(1 << 16, 3, 6)
    for parts in (3, 2 * R + 5):
        kernel = agg._partials(_table(spark, parts), "text", mk, mk(), None)
        assert kernel.rdd.getNumPartitions() == min(parts, wave, R)
        assert kernel.count() == min(parts, wave, R)
        sliced = agg._partials(_table(spark, parts), "text", bf, bf(), R)
        assert sliced.rdd.getNumPartitions() == min(parts, R)
        assert sliced.count() == min(parts, R) * R


@pytest.mark.spark
@pytest.mark.parametrize("salt", [None, 4])
def test_sketch_by_key_one_wave_one_exchange(spark, small_r, monkeypatch, salt):
    """sketch_by_key's kernel runs min(P, defaultParallelism, R) tasks
    and its plan has exactly one Exchange, with or without
    ``salt_partitions``."""
    import re

    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.plans.agg import sketch_by_key
    from tests.test_plans import _plan

    cls = type(spark.range(1))
    real = cls.mapInArrow
    kernels = []
    monkeypatch.setattr(cls, "mapInArrow", lambda self, *a, **k: kernels.append(real(self, *a, **k)) or kernels[-1])
    wave = spark.sparkContext.defaultParallelism
    for parts in (3, 2 * R + 5):
        kernels.clear()
        hll = lambda: HyperLogLog(p=10)
        out = sketch_by_key(_table(spark, parts), ["key"], "text", hll, HyperLogLog.estimate, salt_partitions=salt)
        (kernel,) = kernels
        assert kernel.rdd.getNumPartitions() == min(parts, wave, R)
        assert len(re.findall(r"^\(\d+\) Exchange", _plan(out), re.M)) == 1
        assert out.count() == 38  # 37 keys and the null key


def test_kernel_flush_emits_live_sketches(monkeypatch):
    """A keyed kernel task about to hold more than ``_KERNEL_MAX_KEYS``
    sketches emits them all and starts over: with a limit of 2 and
    three interleaved keys every key gets several partials, which merge
    to the sketch of all its rows."""
    import pyarrow as pa

    from btl_bloomfilter_spark.operators.base import Sketch
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.plans import agg

    monkeypatch.setattr(agg, "_KERNEL_MAX_KEYS", 2)
    mk = lambda: HyperLogLog(p=10)
    keys = [f"g{i % 3}" for i in range(300)]
    vals = [f"v{i}" for i in range(300)]
    batches = [pa.record_batch([pa.array(keys[j : j + 50]), pa.array(vals[j : j + 50])], names=["__key0", "v"]) for j in range(0, 300, 50)]
    kernel = agg._kernel(mk, ["__key0"], "v", None, arrow=True, timezone="UTC", with_metrics=False)
    rows = pa.Table.from_batches(list(kernel(iter(batches)))).to_pylist()
    for g in ("g0", "g1", "g2"):
        mine = [r for r in rows if r["__key0"] == g]
        assert len(mine) > 1
        assert sum(r["n_rows"] for r in mine) == 100
        want = mk()
        want.update([v for k, v in zip(keys, vals) if k == g])
        assert Sketch.merge_blobs([r["blob"] for r in mine]).serialize() == want.serialize()


@pytest.mark.spark
def test_sketch_by_key_flushed_rows(spark, monkeypatch):
    """Kernels that flush at 2 live keys give the same HLL and CMS rows
    as kernels that never flush (exact merges), and KLL stays inside its
    rank bound."""
    from btl_bloomfilter_spark.operators.base import Sketch
    from btl_bloomfilter_spark.operators.counting import CountMinSketch
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.operators.kll import KLL
    from btl_bloomfilter_spark.plans import agg
    from tests.test_quantiles import _rank_err

    # g: k0..k9 and null (11 keys); n: key length 2, 3 or null
    df = _table(spark, 5).selectExpr("substr(key, 1, 2) as g", "length(key) as n", "text", "x")

    def rows(key, col, mk):
        out = agg.sketch_by_key(df, [key], col, mk, lambda s: s.serialize(), "b", out_type="binary").collect()
        return {r[key]: bytes(r["b"]) for r in out}

    exact = [lambda: HyperLogLog(p=10), lambda: CountMinSketch.from_error(0.01, 0.01)]
    want = [rows("g", "text", mk) for mk in exact]
    monkeypatch.setattr(agg, "_KERNEL_MAX_KEYS", 2)
    assert [rows("g", "text", mk) for mk in exact] == want
    assert len(want[0]) == 11
    data: dict = {}
    for r in df.collect():
        if r["x"] is not None:
            data.setdefault(r["n"], []).append(r["x"])
    got = rows("n", "x", lambda: KLL(k=200, seed=5))
    assert set(got) == set(data)
    for n, blob in got.items():
        kll = Sketch.deserialize(blob)
        assert kll.n == len(data[n])
        for q in (0.1, 0.5, 0.9):
            assert _rank_err(kll.quantile, np.array(data[n]), q) <= 0.02, (n, q)


@pytest.mark.spark
def test_sliced_with_nulls_and_odd_slice_count(spark, monkeypatch):
    from btl_bloomfilter_spark.plans import agg

    monkeypatch.setattr(agg, "_n_slices", lambda spark: 13)  # uneven ranges
    docs = [r["text"] for r in _table(spark, 1).collect()][:100]
    rows = [(d,) for d in docs] + [(None,), ("",), ("ab",)]
    df = spark.createDataFrame(rows, "text string").repartition(5)
    mk = lambda: BloomFilter(1 << 16, 3, 6)
    serial = mk()
    serial.update(docs + [None, "", "ab"])
    built = agg.build_sketch(df, "text", mk)
    np.testing.assert_array_equal(built.bits, serial.bits)


@pytest.mark.spark
def test_sliced_counting_bloom(spark):
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.plans.agg import build_sketch

    items = [f"k{i % 37}" for i in range(3000)] + [None]
    df = spark.createDataFrame([(x,) for x in items], "text string").repartition(6)
    mk = lambda: CountingBloomFilter(10_000, 3, 0, counter_bits=16)
    serial = mk()
    serial.update(items)
    built = build_sketch(df, "text", mk)
    np.testing.assert_array_equal(built.counters, serial.counters)
    assert built.n_entry == serial.n_entry
    est = built.estimate_batch(["k0", "k36", "nope"])
    assert est[0] >= 82 and est[2] == 0


@pytest.mark.spark
def test_sliced_whole_string_mode(spark):
    from btl_bloomfilter_spark.plans.agg import build_sketch

    items = [f"item-{i}" for i in range(2000)] + [None]
    df = spark.createDataFrame([(x,) for x in items], "text string").repartition(4)
    mk = lambda: BloomFilter(1 << 16, 4, 0)
    serial = mk()
    serial.update(items)
    built = build_sketch(df, "text", mk)
    np.testing.assert_array_equal(built.bits, serial.bits)
    assert built.contains_batch(["item-0", "item-1999"]).all()


@pytest.mark.spark
@pytest.mark.parametrize("shape", ["where_false", "limit_0", "empty_partitions"])
def test_empty_input_returns_empty_sketch(spark, shape):
    """Zero-partition plans (an always-false filter on a local relation,
    limit(0)) and empty partitions both give the empty sketch, for a
    sliced sketch and a one-row sketch alike."""
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.plans.agg import build_sketch

    df = spark.createDataFrame([("a b c d e f g",), ("h i j",)], "text string")
    df = {
        "where_false": lambda: df.where("false"),
        "limit_0": lambda: df.limit(0),
        "empty_partitions": lambda: spark.range(0, 6, numPartitions=3)
        .where("id < 0")
        .selectExpr("cast(id as string) as text"),
    }[shape]()
    assert df.rdd.getNumPartitions() == (3 if shape == "empty_partitions" else 0)
    for mk in (lambda: BloomFilter(1 << 12, 3, 4), lambda: HyperLogLog(p=8)):
        assert build_sketch(df, "text", mk).serialize() == mk().serialize()


@pytest.mark.parametrize(
    "mk,cell",
    [(lambda: CountingBloomFilter(1000, 3, 0), np.uint64), (lambda: CountSketch(250, 4), np.int64)],
    ids=["counting", "countsketch"],
)
@pytest.mark.parametrize("defect", ["format_2", "cut_mid_entry", "index_outside"])
def test_counter_slice_decoder_rejects_malformed(mk, cell, defect):
    """A counter slice with an unknown format byte, a sparse body cut
    mid-entry or an index past its range (4 slices of 1000 cells: 250)
    raises ValueError instead of being misread."""
    sk = mk()
    sk.update(["a", "b"])
    s, good = next((i, b) for i, b in enumerate(sk.state_slices(4)) if b[:1] == b"\x01" and len(b) > 1)
    bad = {
        "format_2": b"\x02" + good[1:],
        "cut_mid_entry": good[:-3],
        "index_outside": b"\x01" + np.array([250], np.uint32).tobytes() + np.array([1], cell).tobytes(),
    }[defect]
    type(sk).merge_slice_blobs(sk.params(), s, 4, [good])  # the intact slice decodes
    with pytest.raises(ValueError):
        type(sk).merge_slice_blobs(sk.params(), s, 4, [good, bad])
