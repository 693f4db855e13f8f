"""Physical-plan hygiene: the shapes we claim in SURVEY §4 must hold.

- column pruning reaches the parquet scan (ReadSchema)
- predicate pushdown reaches the scan (PushedFilters)
- broadcast probe is a pure map: no Exchange in the plan; the
  frac and contains UDFs share one ArrowEvalPython node and one
  broadcast
- sketch build partials stage has no Exchange before the kernel
- one build plan: one-row builds plan no Exchange, sliced builds plan
  exactly one hashpartitioning(slice), and inputs above R partitions
  are narrowed by a Coalesce, never by an exchange; top-k is a one-row
  build, so it plans no Exchange either
"""

import contextlib
import io

import pytest


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.mark.spark
def test_column_pruning_on_scan(spark, docs):
    from btl_bloomfilter_spark.plans.agg import _n_slices, _partials
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    mk = lambda: BloomFilter(1 << 14, 3, 8)
    part = _partials(docs, "text", mk, mk(), _n_slices(spark))
    plan = _plan(part)
    assert "ReadSchema: struct<text:string>" in plan  # only text read
    # No KEYED shuffle before the kernel: the only exchange the build
    # may plan is the conditional round-robin fan-out of an
    # under-partitioned source (plans/spread.fan_out, r6) — never a
    # hash/range partitioning of the data
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan  # the fan-out, nothing else


@pytest.mark.spark
def test_predicate_pushdown(spark, docs):
    from pyspark.sql import functions as F

    q = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:120]


@pytest.mark.spark
def test_probe_is_pure_map(spark, docs):
    from btl_bloomfilter_spark.functions.probe import bloom_seen_fraction
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    bf = BloomFilter(1 << 14, 3, 8)
    bf.update(["warm"])
    probed = docs.select(bloom_seen_fraction(spark, bf, "text").alias("f"))
    plan = _plan(probed)
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan
    assert "ReadSchema: struct<text:string>" in plan


@pytest.mark.spark
def test_probe_columns_one_node_one_broadcast(spark, docs, monkeypatch):
    import re

    from btl_bloomfilter_spark.functions.probe import with_probe_columns
    from btl_bloomfilter_spark.operators.bloom import BloomFilter

    bf = BloomFilter(1 << 14, 3, 8)
    bf.update(["warm"])
    sc = spark.sparkContext
    made = []
    real_broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda value: made.append(value) or real_broadcast(value))
    probed = with_probe_columns(docs, bf, "text", frac_col="f", contains_col="c", keep=["doc_id"])
    monkeypatch.undo()
    assert len(made) == 1
    plan = _plan(probed)
    nodes = re.findall(r"^\(\d+\) ArrowEvalPython\n.*\nArguments: (.*)$", plan, re.M)
    assert len(nodes) == 1 and nodes[0].count("probe(text#") == 2
    assert "MapInArrow" not in plan and "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def _build_plans(spark, monkeypatch, build) -> list[str]:
    """Run ``build`` and return the formatted plan of every DataFrame it
    collects (the merge stage of build_sketch)."""
    cls = type(spark.range(1))  # the concrete DataFrame class
    plans = []
    real_collect = cls.collect
    monkeypatch.setattr(cls, "collect", lambda self: plans.append(_plan(self)) or real_collect(self))
    build()
    monkeypatch.undo()
    return plans


@pytest.mark.spark
def test_sliced_build_single_exchange(spark, docs, monkeypatch):
    """Reduce-scatter build: exactly one Exchange, hash-partitioned on
    the slice column; a one-row build plans no Exchange at all."""
    import re

    from btl_bloomfilter_spark.operators.bloom import BloomFilter
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.plans.agg import build_sketch

    (sliced,) = _build_plans(spark, monkeypatch, lambda: build_sketch(docs, "text", lambda: BloomFilter(1 << 14, 3, 8)))
    assert len(re.findall(r"hashpartitioning\(slice#", sliced)) == 1
    assert "hashpartitioning" not in sliced.replace("hashpartitioning(slice#", "")
    (one_row,) = _build_plans(spark, monkeypatch, lambda: build_sketch(docs, "text", lambda: HyperLogLog(p=10)))
    assert "Exchange" not in one_row


@pytest.mark.spark
def test_build_above_r_coalesces(spark, monkeypatch):
    """An input with more than R partitions is narrowed by a Coalesce
    before the kernel, never by an exchange."""
    import re

    from btl_bloomfilter_spark.operators.bloom import BloomFilter
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.plans.agg import _n_slices, build_sketch

    df = spark.range(0, 2000, numPartitions=_n_slices(spark) + 5).selectExpr("cast(id as string) as text")
    (one_row,) = _build_plans(spark, monkeypatch, lambda: build_sketch(df, "text", lambda: HyperLogLog(p=10)))
    assert "Coalesce" in one_row and "Exchange" not in one_row
    (sliced,) = _build_plans(spark, monkeypatch, lambda: build_sketch(df, "text", lambda: BloomFilter(1 << 14, 3, 0)))
    assert "Coalesce" in sliced
    assert len(re.findall(r"^\(\d+\) Exchange", sliced, re.M)) == 1


@pytest.mark.spark
def test_mg_topk_no_exchange(spark, docs, monkeypatch):
    from btl_bloomfilter_spark.operators.topk import mg_topk

    (plan,) = _build_plans(spark, monkeypatch, lambda: mg_topk(docs, "lang", 4))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


@pytest.mark.spark
def test_minhash_signature_scan_pruned(spark, docs):
    """The MinHash kernel's input scan reads only (id, text) — the
    mapInArrow stage must not force the full documents schema."""
    from btl_bloomfilter_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(docs, "text", "doc_id", num_perm=16)
    plan = _plan(sigs)
    rs = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" in rs and "doc_id" in rs and "source" not in rs and "lang" not in rs
    # signatures stay a pure map except the conditional round-robin
    # fan-out of an under-partitioned source (plans/spread.fan_out,
    # r6) — never a keyed exchange
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


@pytest.mark.spark
def test_whole_stage_codegen_on_relational(spark, sf_dir):
    import __spark_entry__ as em

    plan = _plan(em.q01_pricing_summary(spark, sf_dir))
    # the date filter reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:160]
    # map-side combine: partial aggregation below the exchange
    assert "partial_sum" in plan
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1  # single shuffle on the group keys


@pytest.mark.spark
def test_blocked_simhash_join_is_hash_keyed(spark):
    """simhash_candidates_blocked must plan as a shuffled hash/SM join
    keyed on (block, value) — never a cartesian/NLJ — and the probe
    explosion must stay linear (explode, no self-cross before the
    equi-join)."""
    from btl_bloomfilter_spark.operators.dedup import simhash_candidates_blocked

    sh = spark.createDataFrame([(i, i * 7919) for i in range(50)], "id long, simhash long")
    out = simhash_candidates_blocked(sh, max_hamming=7)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # equi-join present


@pytest.mark.spark
def test_duplicate_spans_plan_shape(spark):
    """Span dedup must pair anchors WITHIN fingerprint groups (no
    cartesian, no self-join) and run the winnow kernel exactly ONCE —
    the fingerprint map's single consumer is the groupBy(fp)
    (VERDICT r4 #1: the old self-join formulation evaluated the
    heaviest Arrow kernel twice)."""
    from btl_bloomfilter_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(i, "abcdefghijklmnopqrstuvwxyz" * 4) for i in range(20)], "doc_id long, text string"
    )
    out = duplicate_spans(df, "text", "doc_id", k=12, w=8, min_len=30)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan  # grouped pair expansion replaced the self-join
    # winnow kernel appears exactly once: the formatted explain lists
    # each physical node twice (tree + per-node detail section)
    assert plan.count("MapInArrow") == 2
    # and exactly once in the EXECUTED plan tree
    out.count()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert executed.count("MapInArrow") == 1


@pytest.mark.spark
def test_full_classification_pure_map(spark, docs):
    """with_classification(full=True) must stay a broadcast pure map:
    no Exchange, input scan pruned to the needed columns."""
    from btl_bloomfilter_spark.operators.bloom import BloomFilter
    from btl_bloomfilter_spark.operators.mibf import MIBloomFilter

    bf = BloomFilter(1 << 14, 3, 8)
    bf.update(["warm up the bit vector"])
    mibf = MIBloomFilter(1 << 14, 3, 8)
    mibf.freeze(bf.bits.copy())
    mibf.insert_seq_online("warm up the bit vector", 1)
    from btl_bloomfilter_spark.operators.mibf import with_classification

    out = with_classification(docs, mibf, "text", keep=["doc_id"], full=True)
    plan = _plan(out)
    assert "Exchange" not in plan
    rs = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" in rs and "doc_id" in rs and "source" not in rs


@pytest.mark.spark
def test_bootstrap_explode_fuses_into_partial_agg(spark):
    """bootstrap_ci's xR explode must feed the (group, replicate)
    partial aggregate in the SAME stage — the R-fold blowup lives
    inside the combiner, never on the wire (PLANS section 25)."""
    from btl_bloomfilter_spark.operators.stats import bootstrap_ci

    df = spark.createDataFrame(
        [("g", i, float(i % 7)) for i in range(200)], "g string, k long, v double"
    )
    out = bootstrap_ci(df, ["g"], "v", ["k"], replicates=8)
    out.count()
    executed = out._jdf.queryExecution().executedPlan().toString()
    lines = executed.split("\n")
    gen = next(i for i, l in enumerate(lines) if "Generate explode" in l)
    # walking UP from the explode, a partial-sum aggregate must appear
    # before any Exchange: explode -> partial agg is stage-fused
    for l in reversed(lines[:gen]):
        if "partial_sum" in l:
            break
        assert "Exchange" not in l, "explode output crossed an exchange unaggregated"
    else:
        raise AssertionError("no partial aggregate above the explode")
