"""IBLT set reconciliation laws: order-independent update, merge ==
serial, subtract+decode recovers a planted symmetric difference
exactly, honest incompleteness past capacity, partial decodes never
guess, envelope roundtrip, distributed build parity."""

import random

import numpy as np
import pytest

from btl_bloomfilter_spark.functions import hashing as H
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.iblt import IBLT, iblt_diff


def _hashes(keys):
    return {int(h) for h in H.hash_strings(list(keys), 1)[:, 0]} if keys else set()


def test_update_order_independent_and_merge_law():
    keys = [f"k{i}" for i in range(500)]
    a = IBLT(seglen=64, salt=1)
    a.update(keys)
    b = IBLT(seglen=64, salt=1)
    rng = random.Random(3)
    sh = keys[:]
    rng.shuffle(sh)
    for i in range(0, len(sh), 37):  # odd batch sizes
        b.update(sh[i : i + 37])
    assert a.state_bytes() == b.state_bytes()
    # merge of disjoint partials == serial build
    c1, c2 = IBLT(seglen=64, salt=1), IBLT(seglen=64, salt=1)
    c1.update(keys[:250])
    c2.update(keys[250:])
    assert c1.merge(c2).state_bytes() == a.state_bytes()


def test_subtract_decode_exact():
    base = [f"doc{i}" for i in range(3000)]
    only_a = [f"newA{i}" for i in range(40)]
    only_b = [f"newB{i}" for i in range(35)]
    ta = IBLT(seglen=128, salt=7)
    ta.update(base + only_a)
    tb = IBLT(seglen=128, salt=7)
    tb.update(base + only_b)
    left, right, complete = ta.subtract(tb).decode()
    assert complete
    assert set(left) == _hashes(only_a)
    assert set(right) == _hashes(only_b)
    # identical sets -> empty, complete decode
    l2, r2, c2 = ta.subtract(ta).decode()
    assert c2 and not l2 and not r2


def test_honest_incompleteness_and_no_guessing():
    # difference 400 against capacity ~ 1.5*seglen cells/segment = 48
    ta = IBLT(seglen=32, salt=2)
    tb = IBLT(seglen=32, salt=2)
    only_a = [f"x{i}" for i in range(400)]
    ta.update(only_a)
    left, right, complete = ta.subtract(tb).decode()
    assert not complete
    truth = _hashes(only_a)
    assert set(left) <= truth and not right  # partial, but never a guess
    assert len(left) < len(only_a)


def test_envelope_roundtrip_preserves_decode():
    ta = IBLT(seglen=64, salt=9)
    ta.update([f"a{i}" for i in range(100)])
    blob = ta.serialize()
    back = Sketch.deserialize(blob)
    assert isinstance(back, IBLT)
    assert back.state_bytes() == ta.state_bytes() and back.n_keys == 100
    tb = IBLT(seglen=64, salt=9)
    tb.update([f"a{i}" for i in range(90)])  # a90..a99 differ
    left, right, complete = back.subtract(tb).decode()
    assert complete and set(left) == _hashes([f"a{i}" for i in range(90, 100)]) and not right


def test_guards():
    with pytest.raises(ValueError):
        IBLT(seglen=0)
    x, y = IBLT(seglen=8, salt=1), IBLT(seglen=8, salt=2)
    with pytest.raises(ValueError):
        x.merge(y)  # different salt
    with pytest.raises(ValueError):
        x.subtract(IBLT(seglen=16, salt=1))  # different size


@pytest.mark.spark
def test_distributed_reconciliation(spark):
    base = [(f"doc{i}",) for i in range(4000)]
    da = spark.createDataFrame(base + [(f"onlyA{i}",) for i in range(25)], "key string")
    db = spark.createDataFrame(base + [(f"onlyB{i}",) for i in range(30)], "key string")
    left, right, complete, table = iblt_diff(da, db, "key", expected_diff=80, salt=4)
    assert complete
    assert set(left) == _hashes([f"onlyA{i}" for i in range(25)])
    assert set(right) == _hashes([f"onlyB{i}" for i in range(30)])
    # the distributed build equals a driver-side serial build
    serial = IBLT(seglen=table.seglen, salt=4)
    serial.update([k for (k,) in base] + [f"onlyA{i}" for i in range(25)])
    from btl_bloomfilter_spark.plans.agg import build_sketch

    dist = build_sketch(da, "key", lambda: IBLT(seglen=table.seglen, salt=4))
    assert dist.state_bytes() == serial.state_bytes()
