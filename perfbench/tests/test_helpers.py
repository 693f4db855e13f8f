"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

import gen  # noqa: E402
import measure  # noqa: E402
from spans import Tracer, attach_spark_spans, parse_event_log, self_time  # noqa: E402


# -- generator ---------------------------------------------------------------


def test_generator_is_deterministic(tmp_path):
    a = gen.materialize(tmp_path / "a", 7, 3000, 4, 500)
    b = gen.materialize(tmp_path / "b", 7, 3000, 4, 500)
    assert a["digest"] == b["digest"]
    assert a["turns"] == 3000 and a["negatives"] == 3000 and a["n_batches"] == 6
    again = gen.materialize(tmp_path / "a", 7, 3000, 4, 500)
    assert again["reused"] and again["digest"] == a["digest"]


def test_generator_is_seed_sensitive(tmp_path):
    a = gen.materialize(tmp_path, 7, 3000, 4, 500)
    b = gen.materialize(tmp_path, 8, 3000, 4, 500)
    assert a["digest"] != b["digest"]
    assert a["turns"] == b["turns"] == 3000  # the size does not depend on the seed


def test_digest_detects_changed_files(tmp_path):
    m = gen.materialize(tmp_path, 7, 1000, 2, 500)
    victim = sorted((gen.input_dir(tmp_path, m) / "corpus").glob("*.parquet"))[0]
    victim.write_bytes(victim.read_bytes() + b"x")
    with pytest.raises(RuntimeError, match="digest"):
        gen.materialize(tmp_path, 7, 1000, 2, 500)


def test_generated_shape():
    corpus, negatives = gen.transcripts(3, 5000)
    text = corpus.column("text").to_pylist()
    assert all(gen.WORDS_MIN * 9 - 1 <= len(t) <= gen.WORDS_MAX * 9 - 1 for t in text)
    # no corpus window can contain a 'z', every negative window does
    assert not any("z" in t for t in text)
    neg = negatives.column("text").to_pylist()
    assert all(t.startswith("zzng") for t in neg)
    prefixes = [c[:4] for c in corpus.column("conv_id").to_pylist()]
    hot = prefixes.count("hot0") / len(prefixes)
    assert 0.8 < hot < 0.97
    roles = corpus.column("role").to_pylist()
    tools = corpus.column("tool").to_pylist()
    assert all((r == "tool") == (t is not None) for r, t in zip(roles, tools))


def test_batches_recut_the_corpus(tmp_path):
    import pyarrow.parquet as pq

    m = gen.materialize(tmp_path, 5, 2000, 2, 300)
    root = gen.input_dir(tmp_path, m)
    corpus = pq.read_table(root / "corpus").column("text").to_pylist()
    batches = [pq.read_table(p).column("text").to_pylist() for p in gen.batch_paths(root, m["n_batches"])]
    assert [len(b) for b in batches] == [300] * 6
    assert sum(batches, []) == corpus[:1800]


# -- percentile rule and spreads ----------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert measure.tail(list(range(10))) is None
    pct, v = measure.tail(list(range(11)))
    assert v == 0 and pct == pytest.approx(100 / 11)


def test_tail_has_ten_samples_beyond():
    xs = list(np.random.default_rng(0).permutation(100).astype(float))
    pct, v = measure.tail(xs)
    assert pct == 90.0 and v == 89.0
    assert sum(x > v for x in xs) == 10
    pct, v = measure.tail(list(range(1000)))
    assert pct == 99.0 and v == 989


def test_quartile_spread():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    # statistics.quantiles exclusive method: Q1 = 1.5, Q3 = 4.5
    assert measure.quartile_spread(xs) == pytest.approx(3.0 / 3.0)
    assert measure.quartile_spread([2.0] * 10) == 0.0


# -- spans and self time ------------------------------------------------------


def _s(sid, start, end, parent=None):
    return {"id": sid, "parent": parent, "name": f"s{sid}", "start": start, "end": end, "attrs": {}}


def test_self_time_subtracts_children_once():
    parent = _s(1, 0.0, 10.0)
    assert self_time(parent, []) == 10.0
    assert self_time(parent, [_s(2, 1.0, 3.0), _s(3, 5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping children cover their union
    assert self_time(parent, [_s(2, 1.0, 4.0), _s(3, 3.0, 6.0)]) == pytest.approx(5.0)
    # children sticking out of the parent are clipped to it
    assert self_time(parent, [_s(2, -5.0, 2.0), _s(3, 9.0, 20.0)]) == pytest.approx(7.0)
    assert self_time(parent, [_s(2, 0.0, 10.0)]) == 0.0


def test_tracer_nests_and_tags():
    class FakeSC:
        def __init__(self):
            self.desc = []

        def setJobDescription(self, d):
            self.desc.append(d)

    sc = FakeSC()
    tr = Tracer(True, sc)
    with tr.span("op", i=1):
        with tr.span("plans.agg.build_sketch"):
            pass
        with tr.span("action"):
            pass
    ids = {s["name"]: s for s in tr.spans}
    assert ids["op"]["parent"] is None
    assert ids["plans.agg.build_sketch"]["parent"] == ids["op"]["id"]
    assert ids["action"]["parent"] == ids["op"]["id"]
    assert sc.desc == ["span:1", "span:2", "span:1", "span:3", "span:1", None]
    st = {s["name"]: s for s in tr.with_self_times()}
    assert st["op"]["self_s"] <= st["op"]["end"] - st["op"]["start"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, None)
    with tr.span("op"):
        pass
    assert tr.spans == []


# -- event log ----------------------------------------------------------------


def test_event_log_parser_on_fixture():
    lines = (HERE / "fixtures" / "eventlog_small.jsonl").read_text().splitlines()
    log = parse_event_log(lines)
    assert set(log["jobs"]) == {0, 1}
    assert log["jobs"][0]["span"] == 3 and log["jobs"][1]["span"] is None
    st0, st1 = log["stages"][0], log["stages"][1]
    assert st0["span"] == 3 and st1["span"] == 3
    assert st0["tasks"] == 2 and st0["run_s"] == [0.48, 0.25]
    assert st0["input_rows"] == 80 and st0["input_bytes"] == 180
    assert st0["python_in_bytes"] == 4000
    assert st0["shuffle_write_bytes"] == 1000 and st0["shuffle_write_rows"] == 32
    assert st0["gc_s"] == pytest.approx(0.005)
    assert st0["cpu_s"] == pytest.approx(0.03)
    assert st1["shuffle_read_bytes"] == 1000 and st1["result_bytes"] == 9000
    # task 0: 500 ms wall, 490 ms deserialize + run -> 10 ms delay
    assert st0["sched_delay_s"] == pytest.approx(0.010 + 0.040)
    assert st0["end"] - st0["start"] == pytest.approx(0.515)

    tr = Tracer(True, None)
    tr.add("op", 999.0, 1001.0, None)
    tr.add("x", 999.5, 1000.9, 1)
    tr.add("plans.agg.build_sketch", 1000.0, 1000.8, 2)  # span 3
    attach_spark_spans(tr, log)
    names = [s["name"] for s in tr.spans]
    assert "spark.job.0" in names and "spark.job.1" not in names
    job = next(s for s in tr.spans if s["name"] == "spark.job.0")
    assert job["parent"] == 3
    stages = [s for s in tr.spans if s["name"].startswith("spark.stage.")]
    assert {s["parent"] for s in stages} == {job["id"]}
    tasks = [s for s in tr.spans if s["name"].startswith("spark.task.")]
    assert len(tasks) == 3


# -- gates ----------------------------------------------------------------------


def test_rank_error_accepts_interpolated_values():
    pytest.importorskip("pyspark")
    import workloads as W

    data = np.sort(np.repeat(np.arange(1.0, 11.0), 10))  # 1..10, 10 each
    assert W.rank_error(data, 10.0, 0.95) == 0.0
    # between 9 and 10: may take either neighbour's rank
    assert W.rank_error(data, 9.7, 0.95, neighbours=True) == 0.0
    # above the maximum: the maximum's rank interval [0.9, 1.0]
    assert W.rank_error(data, 10.3, 0.95, neighbours=True) == 0.0
    assert W.rank_error(data, 3.0, 0.95) == pytest.approx(0.65)


def test_rank_error_checks_returned_items_alone():
    pytest.importorskip("pyspark")
    import workloads as W

    data = np.sort(np.repeat(np.arange(1.0, 11.0), 10))
    # a returned item is held to its own rank interval [0.8, 0.9]
    assert W.rank_error(data, 9.0, 0.95) == pytest.approx(0.05)
    assert W.rank_error(data, 9.7, 0.95) == pytest.approx(0.05)


def test_distinct_windows_ignores_repeats():
    pytest.importorskip("pyspark")
    import pyarrow as pa
    import workloads as W

    k = W.BLOOM_K
    one = "a" * (k - 1) + "bcd"  # 3 distinct windows
    assert W.distinct_windows([pa.array([one])]) == 3
    assert W.distinct_windows([pa.array([one, one]), pa.array([one, "short"])]) == 3


def test_fpr_bound_formula():
    pytest.importorskip("pyspark")
    import workloads as W

    p, gate = W.fpr_bound(1000, 1 << 16, 3, 10_000)
    assert p == pytest.approx((1 - (1 - 2.0**-16) ** 3000) ** 3)
    assert gate > p
    assert W.fpr_bound(0, 1 << 16, 3, 10)[0] == 0.0
