"""Checkpoint/resume on the one build plan: the state table holds the
kernel's rows with partition ids, lineage and fill metrics; resume
merges them with the slice count recorded at write time; a state table
in another layout is rebuilt, never misread."""

import json
import os

import numpy as np
import pytest

from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.hll import HyperLogLog

DOCS = [f"doc number {i} payload {i % 13}" for i in range(300)]


def _df(spark, docs=DOCS, parts=4):
    return spark.createDataFrame([(d,) for d in docs], "text string").repartition(parts)


@pytest.mark.spark
@pytest.mark.parametrize("mk", [lambda: BloomFilter(1 << 14, 3, 4), lambda: HyperLogLog(p=10)], ids=["sliced", "one_row"])
def test_earlier_layout_is_rebuilt(spark, tmp_path, mk):
    """A directory in the earlier layout (pid, blob, n_rows, metrics,
    lineage + a params.json without a layout field) whose identity
    otherwise matches holds a sketch of OTHER data; the build must
    rebuild from the source, not read it."""
    from btl_bloomfilter_spark.plans.agg import build_sketch

    proto = mk()
    ck = tmp_path / "ck"
    ck.mkdir()
    other = mk()
    other.update(["unrelated text that was never in the source"])
    spark.createDataFrame(
        [(0, other.serialize(), 1, json.dumps(other.metrics()), "unit:v1")],
        "pid long, blob binary, n_rows long, metrics string, lineage string",
    ).write.parquet(str(ck / "partials"))
    (ck / "params.json").write_text(
        json.dumps(
            {"cls": type(proto).__name__, "params": proto.checkpoint_params(), "col": "text", "lineage": "unit:v1"},
            sort_keys=True,
        )
    )
    serial = mk()
    serial.update(DOCS)
    built = build_sketch(_df(spark), "text", mk, checkpoint_dir=str(ck), lineage="unit:v1")
    assert built.serialize() == serial.serialize()
    assert json.loads((ck / "params.json").read_text())["layout"] == 2


@pytest.mark.spark
def test_resume_uses_recorded_slice_count(spark, tmp_path, monkeypatch):
    from btl_bloomfilter_spark.plans import agg

    mk = lambda: BloomFilter(1 << 14, 3, 4)
    ck = str(tmp_path / "ck")
    monkeypatch.setattr(agg, "_n_slices", lambda spark: 13)
    first = agg.build_sketch(_df(spark), "text", mk, checkpoint_dir=ck, lineage="unit:v1")
    # the cluster's R changes between the write and the resume
    monkeypatch.setattr(agg, "_n_slices", lambda spark: 7)
    resumed = agg.build_sketch(_df(spark, ["different"]), "text", mk, checkpoint_dir=ck, lineage="unit:v1")
    np.testing.assert_array_equal(resumed.bits, first.bits)
    assert (resumed.n_entry, resumed.t_entry) == (first.n_entry, first.t_entry) == (first.n_entry, len(DOCS))
    assert json.loads(open(os.path.join(ck, "params.json")).read())["n_slices"] == 13


@pytest.mark.spark
def test_state_table_carries_lineage_and_metrics(spark, tmp_path):
    from btl_bloomfilter_spark.plans.agg import build_sketch

    mk = lambda: BloomFilter(1 << 14, 3, 4)
    ck = str(tmp_path / "ck")
    built = build_sketch(_df(spark, parts=3), "text", mk, checkpoint_dir=ck, lineage="unit:v1")
    rows = spark.read.parquet(os.path.join(ck, "partials")).collect()
    assert {r["lineage"] for r in rows} == {"unit:v1"}
    firsts = [r for r in rows if r["slice"] == 0]
    assert sorted(r["pid"] for r in firsts) == [0, 1, 2]
    assert all(r["metrics"] is None for r in rows if r["slice"] != 0)
    metrics = [json.loads(r["metrics"]) for r in firsts]
    assert sum(r["n_rows"] for r in firsts) == len(DOCS)
    assert sum(m["n_entry"] for m in metrics) == built.n_entry
    assert max(m["pop"] for m in metrics) <= built.pop()
