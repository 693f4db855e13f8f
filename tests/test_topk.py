"""Misra-Gries mergeable top-k: compress law, distributed guarantees
under arbitrary partitionings, at most k counters per shipped blob."""

import collections
import json
import random

import pandas as pd
import pyarrow as pa
import pytest

from btl_bloomfilter_spark.operators.topk import MGSummary, mg_compress, mg_topk


def _zipf_stream(rng: random.Random, n: int, vocab: int) -> list[str]:
    # heavy skew: item i with weight ~ 1/(i+1)
    weights = [1.0 / (i + 1) for i in range(vocab)]
    return [f"t{i}" for i in rng.choices(range(vocab), weights=weights, k=n)]


def _check_guarantees(summ: MGSummary, stream: list[str]) -> None:
    true = collections.Counter(stream)
    assert summ.n == len(stream)
    assert len(summ.counts) <= summ.k
    bound = min(summ.err_bound, summ.tracked_bound)
    assert summ.tracked_bound <= summ.err_bound
    for item, est in summ.counts.items():
        assert est <= true[item], (item, est, true[item])
        assert true[item] - est <= bound, (item, est, true[item], bound)
    # frequent-items law: every x with true(x) > N/(k+1) is present
    for item, c in true.items():
        if c > summ.err_bound:
            assert item in summ.counts, (item, c, summ.err_bound)


def test_mg_compress_law():
    rng = random.Random(7)
    for _ in range(20):
        n_items = rng.randint(1, 200)
        k = rng.randint(1, 50)
        counts = pd.Series(
            {f"i{j}": rng.randint(1, 1000) for j in range(n_items)}, dtype="int64"
        )
        kept, cstar = mg_compress(counts.copy(), k)
        assert len(kept) <= k
        if n_items <= k:
            assert cstar == 0 and kept.equals(counts)
            continue
        assert cstar == sorted(counts.to_numpy(), reverse=True)[k]
        for item, est in kept.items():
            assert est == counts[item] - cstar and est > 0
        for item in counts.index.difference(kept.index):
            assert counts[item] <= cstar  # dropped error bounded by c*


@pytest.mark.spark
def test_mg_exact_when_under_k(spark):
    stream = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    df = spark.createDataFrame([(s,) for s in stream], "item string").repartition(4)
    summ = mg_topk(df, "item", k=8)
    assert summ.counts == {"a": 5, "b": 3, "c": 2}
    assert summ.subtracted == 0 and summ.n == 10


@pytest.mark.spark
@pytest.mark.parametrize("parts,k", [(1, 5), (3, 5), (13, 5), (7, 2), (4, 30)])
def test_mg_guarantees_random_partitionings(spark, parts, k):
    rng = random.Random(parts * 100 + k)
    stream = _zipf_stream(rng, 4000, 150)
    df = spark.createDataFrame([(s,) for s in stream], "item string").repartition(parts)
    summ = mg_topk(df, "item", k=k)
    _check_guarantees(summ, stream)


def test_mg_update_compresses_above_cap():
    """``update`` keeps every counter up to the cap max(8k, 1024) and
    compresses to k in-stream once a batch pushes it past the cap."""
    k = 10
    sk = MGSummary(k)
    sk.update_arrow(pa.array([f"u{i}" for i in range(1024)]))
    assert len(sk._counts) == 1024 and sk.subtracted == 0
    sk.update(["u0", "u0", "extra"])
    assert len(sk._counts) <= k and sk.subtracted == 1
    assert sk.n == 1027


@pytest.mark.spark
def test_mg_compress_above_cap(spark):
    # > cap distinct items per partition force the in-stream compress
    rng = random.Random(11)
    stream = _zipf_stream(rng, 3000, 40) + [f"u{i}" for i in range(6000)]
    rng.shuffle(stream)
    df = spark.createDataFrame([(s,) for s in stream], "item string").repartition(3)
    summ = mg_topk(df, "item", k=10)
    assert summ.subtracted > 0
    _check_guarantees(summ, stream)


@pytest.mark.spark
def test_mg_kernel_blobs_hold_k_counters(spark):
    from btl_bloomfilter_spark.operators.base import Sketch
    from btl_bloomfilter_spark.plans.agg import _partials

    parts, k = 6, 7
    stream = _zipf_stream(random.Random(3), 5000, 300)
    df = spark.createDataFrame([(s,) for s in stream], "item string").repartition(parts)
    make = lambda: MGSummary(k)
    blobs = [bytes(r["blob"]) for r in _partials(df, "item", make, make(), None).collect()]
    assert len(blobs) == min(parts, spark.sparkContext.defaultParallelism)  # one wave of kernel tasks
    states = [json.loads(Sketch.peek(b)[2]) for b in blobs]
    assert all(len(st["counts"]) <= k for st in states)
    assert sum(st["n"] for st in states) == 5000


@pytest.mark.spark
def test_mg_nulls_excluded_and_empty(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",), (None,)], "item string")
    summ = mg_topk(df, "item", k=4)
    assert summ.counts == {"a": 2} and summ.n == 2
    empty = spark.createDataFrame([], "item string")
    s2 = mg_topk(empty, "item", k=4)
    assert s2.counts == {} and s2.n == 0 and s2.err_bound == 0


@pytest.mark.spark
def test_mg_by_key_exact_under_k(spark):
    from btl_bloomfilter_spark.operators.topk import mg_topk_by_key

    rows = [("a", "x")] * 5 + [("a", "y")] * 2 + [("b", "x")] * 3 + [("b", None)] * 2
    df = spark.createDataFrame(rows, "g string, item string")
    out = {(r.g, r.item): (r.mg_est, r.n_group, r.err_bound)
           for r in mg_topk_by_key(df, ["g"], "item", k=8).collect()}
    assert out == {
        ("a", "x"): (5, 7, 0), ("a", "y"): (2, 7, 0), ("b", "x"): (3, 3, 0),
    }


@pytest.mark.spark
def test_mg_by_key_bounds_small_k(spark):
    from btl_bloomfilter_spark.operators.topk import mg_topk_by_key

    rng = random.Random(13)
    rows = [(f"g{i % 3}", s) for i, s in enumerate(_zipf_stream(rng, 3000, 120))]
    df = spark.createDataFrame(rows, "g string, item string").repartition(7)
    got = mg_topk_by_key(df, ["g"], "item", k=6).collect()
    truth = {}
    for g, s in rows:
        truth.setdefault(g, collections.Counter())[s] += 1
    per_group = {}
    for r in got:
        per_group.setdefault(r.g, []).append(r)
        t = truth[r.g][r.item]
        assert r.mg_est <= t <= r.mg_est + r.err_bound, (r, t)
    for g, rs in per_group.items():
        assert len(rs) <= 6
        n = sum(truth[g].values())
        assert all(r.n_group == n for r in rs)
        heavy = [i for i, c in truth[g].items() if c > n // 7]
        present = {r.item for r in rs}
        assert all(h in present for h in heavy)


@pytest.mark.spark
def test_mg_by_key_all_null_group_empty(spark):
    from btl_bloomfilter_spark.operators.topk import mg_topk_by_key

    df = spark.createDataFrame([("a", None), ("a", None), ("b", "x")], "g string, item string")
    got = mg_topk_by_key(df, ["g"], "item", k=4).collect()
    assert {(r.g, r.item) for r in got} == {("b", "x")}


def test_mg_invalid_args():
    class _Fake:  # mg_topk_by_key validates args before touching df
        pass

    for k in (0, -1):
        with pytest.raises(ValueError):
            MGSummary(k)
    with pytest.raises(ValueError):  # merge needs equal k
        MGSummary(4).merge(MGSummary(5))
    from btl_bloomfilter_spark.operators.topk import mg_topk_by_key

    with pytest.raises(ValueError):
        mg_topk_by_key(_Fake(), ["g"], "c", 0)
    with pytest.raises(ValueError):
        mg_topk_by_key(_Fake(), [], "c", 4)
    with pytest.raises(ValueError):  # key name collides with output schema
        mg_topk_by_key(_Fake(), ["item"], "c", 4)
