"""Transcript-table workloads — the north-rule query suite on the
input_hint-shaped table: membership (Bloom), distinct convs per role
(HLL vs exact), turn-length quantiles (KLL/t-digest vs exact),
heavy-hitter tools (CMS vs exact), per-turn text equality invariant."""

import numpy as np
import pandas as pd
import pytest

from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.counting import CountMinSketch
from btl_bloomfilter_spark.operators.hll import HyperLogLog
from btl_bloomfilter_spark.operators.kll import KLL
from btl_bloomfilter_spark.operators.tdigest import TDigest
from btl_bloomfilter_spark.plans.agg import build_sketch, sketch_by_key
from btl_bloomfilter_spark.sources.transcripts import (
    SENTINELS,
    negative_corpus,
    transcripts_df,
    transcripts_pdf,
)

N_CONVS = 400


@pytest.fixture(scope="module")
def tdf(spark):
    df = transcripts_df(spark, N_CONVS, partitions=8)
    df.cache().count()
    return df


def test_generator_deterministic_any_partitioning(spark, tdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    (input_hint invariant) — distributed vs driver-local generation."""
    got = tdf.orderBy("conv_id", "turn_idx").toPandas()
    want = (
        transcripts_pdf(N_CONVS)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert got["text"].tolist() == want["text"].tolist()
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["role"].tolist() == want["role"].tolist()
    # ts strictly increasing within conv
    g = got.groupby("conv_id")["ts"].apply(lambda s: s.is_monotonic_increasing and s.is_unique)
    assert g.all()


def test_skew_present(tdf):
    pdf = tdf.toPandas()
    hot = pdf[pdf.conv_id.str.startswith("hot")]
    assert 0.03 < len(hot.conv_id.unique()) / N_CONVS < 0.25


def test_bloom_membership_sentinels(spark, tdf):
    """'was this text n-gram seen anywhere?' — planted sentinels found,
    disjoint negative corpus within FPR bound."""
    mk = lambda: BloomFilter.for_capacity(n=3_000_000, fpr=1e-3, k=12)
    bf = build_sketch(tdf, "text", mk)
    # only sentinels actually planted in this sample can be asserted present
    pdf = tdf.toPandas()
    planted = [s for s in SENTINELS if pdf.text.str.contains(s, regex=False).any()]
    assert len(planted) >= 10  # generator sanity: most sentinels occur
    frac = bf.seen_fraction(planted)
    assert (frac == 1.0).all()  # every n-gram of a planted phrase was inserted
    neg = negative_corpus(300)
    assert bf.seen_fraction(neg).mean() < 0.05
    assert bf.fpr() <= 1e-3 * 2


def test_hll_distinct_convs_per_role(spark, tdf):
    from pyspark.sql import functions as F

    exact = {
        row["role"]: row["d"]
        for row in tdf.groupBy("role").agg(F.countDistinct("conv_id").alias("d")).collect()
    }
    out = sketch_by_key(
        tdf, ["role"], "conv_id", lambda: HyperLogLog(p=12), lambda s: s.estimate(), "est"
    ).toPandas()
    assert set(out.role) == set(exact)
    for _, r in out.iterrows():
        true = exact[r.role]
        assert abs(r.est - true) / true <= 4 * 1.04 / np.sqrt(1 << 12), (r.role, r.est, true)


def test_hll_vs_spark_builtin_secondary_oracle(spark, tdf):
    """SURVEY §5 item 3: our HLL also agrees with Spark's own HLL++
    (approx_count_distinct) within combined error bounds."""
    from pyspark.sql import functions as F

    ours = {
        r.role: r.est
        for r in sketch_by_key(
            tdf, ["role"], "conv_id", lambda: HyperLogLog(p=14), lambda s: s.estimate(), "est"
        ).collect()
    }
    theirs = {
        r.role: r.d
        for r in tdf.groupBy("role").agg(F.approx_count_distinct("conv_id", 0.02).alias("d")).collect()
    }
    for role in ours:
        rel = abs(ours[role] - theirs[role]) / theirs[role]
        assert rel < 0.05, (role, ours[role], theirs[role])


def test_cms_heavy_hitter_tools(spark, tdf):
    from pyspark.sql import functions as F

    tool_df = tdf.filter(F.col("tool").isNotNull())
    exact = {r["tool"]: r["c"] for r in tool_df.groupBy("tool").agg(F.count("*").alias("c")).collect()}
    n = sum(exact.values())
    cms = build_sketch(tool_df, "tool", lambda: CountMinSketch.from_error(0.005, 0.01))
    keys = list(exact)
    est = cms.estimate_batch(keys)
    t = np.array([exact[k] for k in keys], dtype=float)
    assert (est >= t).all()
    assert (est <= t + 0.005 * n).mean() >= 0.99
    # top heavy hitter identified
    assert keys[int(np.argmax(est))] == max(exact, key=exact.get)


def test_quantiles_turn_length(spark, tdf):
    from pyspark.sql import functions as F

    ldf = tdf.select(F.length("text").cast("double").alias("len"))
    data = np.array([r["len"] for r in ldf.collect()])
    kll = build_sketch(ldf, "len", lambda: KLL(k=200))
    td = build_sketch(ldf, "len", lambda: TDigest(delta=200))
    assert kll.n == len(data) and td.n == len(data)
    sd = np.sort(data)
    for q in (0.1, 0.5, 0.9, 0.99):
        for est in (kll.quantile(q), td.quantile(q)):
            lo = np.searchsorted(sd, est, side="left") / len(sd)
            hi = np.searchsorted(sd, est, side="right") / len(sd)
            err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
            assert err <= 0.02, (q, est, err)


def test_sketch_by_key_null_keys(spark, tdf):
    """Regression: null key values crashed the Arrow grouped path
    (pa.array([None]) is null-typed; the JVM can't read it as the
    declared string column).  `tool` is null on every non-tool turn."""
    out = sketch_by_key(
        tdf, ["tool"], "conv_id", lambda: HyperLogLog(p=10), lambda s: s.estimate(), "est"
    ).toPandas()
    assert out["tool"].isna().any()  # the null group survives
    exact_null = tdf.where("tool IS NULL").select("conv_id").distinct().count()
    got_null = float(out[out["tool"].isna()]["est"].iloc[0])
    assert abs(got_null - exact_null) / exact_null < 0.15


def test_sketch_by_key_with_salting(spark, tdf):
    """Skew path: salted two-stage merge gives identical HLL results."""
    plain = sketch_by_key(tdf, ["role"], "conv_id", lambda: HyperLogLog(p=10), lambda s: s.estimate(), "est")
    salted = sketch_by_key(
        tdf, ["role"], "conv_id", lambda: HyperLogLog(p=10), lambda s: s.estimate(), "est", salt_partitions=4
    )
    a = {r.role: r.est for r in plain.collect()}
    b = {r.role: r.est for r in salted.collect()}
    assert a == b  # register-max merge is exact regardless of salting


@pytest.mark.parametrize("salt", [None, 3])
def test_sketch_by_key_keys_named_like_kernel_columns(spark, tdf, salt):
    """Keys named like the build kernel's row columns (``slice``,
    ``n_rows``, ``blob``) group exactly as the same keys under other
    names."""
    hll = lambda: HyperLogLog(p=10)
    two, three = "cast(turn_idx % 2 as bigint)", "cast(turn_idx % 3 as bigint)"
    named = tdf.selectExpr("role as slice", f"{two} as n_rows", f"{three} as blob", "conv_id")
    got = sketch_by_key(
        named, ["slice", "n_rows", "blob"], "conv_id", hll, lambda s: s.estimate(), "est", salt_partitions=salt
    )
    plain = tdf.selectExpr("role", f"{two} as half", f"{three} as third", "conv_id")
    want = sketch_by_key(
        plain, ["role", "half", "third"], "conv_id", hll, lambda s: s.estimate(), "est", salt_partitions=salt
    )
    assert {(r.slice, r.n_rows, r.blob): r.est for r in got.collect()} == {
        (r.role, r.half, r.third): r.est for r in want.collect()
    }


def test_sketch_by_key_out_col_named_like_a_key(spark, tdf):
    """An ``out_col`` equal to a key raises before any job runs; the
    payload name ``blob`` is a valid ``out_col``."""
    hll = lambda: HyperLogLog(p=10)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup()
    with pytest.raises(ValueError, match="'role'"):
        sketch_by_key(tdf, ["role"], "conv_id", hll, lambda s: s.estimate(), "role")
    assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs
    rows = sketch_by_key(tdf, ["role"], "conv_id", hll, lambda s: s.serialize(), "blob", out_type="binary").collect()
    plain = sketch_by_key(tdf, ["role"], "conv_id", hll, lambda s: s.estimate(), "est").collect()
    assert {r.role: HyperLogLog.deserialize(bytes(r.blob)).estimate() for r in rows} == {r.role: r.est for r in plain}


@pytest.mark.spark
def test_build_sketches_job_end_to_end(spark, tmp_path):
    """The north-rule spark-submit job: full sketch suite over a
    synthetic transcript table, artifacts + metrics on disk, Bloom
    reloadable from the reference .bf layout with no false negatives,
    and a rerun resuming from the checkpoints."""
    import json

    import jobs.build_sketches as bj
    from btl_bloomfilter_spark.sources import bfio
    from btl_bloomfilter_spark.sources.transcripts import transcripts_df

    out, ck = tmp_path / "out", tmp_path / "ck"
    args = [
        "--synthetic-convs", "200", "--output", str(out), "--checkpoint", str(ck),
        "--capacity", "200000", "--k", "8",
    ]
    m1 = bj.main(args, stop_session=False)
    assert (out / "metrics.json").exists()
    assert m1["n_turns"] > 1000
    assert m1["bloom"]["observed_fpr"] <= 0.01
    # artifacts load back; no false negatives over sample turns
    bf = bfio.load_bloom(out / "text_ngrams.bf")
    sample = [r["text"] for r in transcripts_df(spark, 200).limit(40).collect()]
    assert (bf.seen_fraction(sample) == 1.0).all()
    # per-key HLL estimates are sane (roles each see ~all convs)
    ests = m1["hll_distinct_convs_per_role"]["estimates"]
    assert ests and all(v > 50 for v in ests.values())
    # persisted theta sketches support cross-profile set algebra
    from btl_bloomfilter_spark.operators.base import Sketch
    from btl_bloomfilter_spark.operators.theta import theta_intersect

    th_user = Sketch.deserialize((out / "convs_user.theta").read_bytes())
    th_asst = Sketch.deserialize((out / "convs_assistant.theta").read_bytes())
    inter = theta_intersect(th_user, th_asst).estimate()
    assert 50 <= inter <= 250  # every conv has both roles at 200 convs
    # rerun with matching lineage resumes from checkpoints, same filter
    m2 = bj.main(args, stop_session=False)
    # theta rebuild is value-deterministic: identical bytes
    assert (out / "convs_user.theta").read_bytes() == th_user.serialize()
    bf2 = bfio.load_bloom(out / "text_ngrams.bf")
    assert bf2.bits.tobytes() == bf.bits.tobytes()
    assert m2["bloom"]["sec"] <= m1["bloom"]["sec"] * 2  # resume not slower-class


@pytest.mark.spark
def test_expand_testdata_deterministic(spark, tmp_path):
    """jobs/expand_testdata.py must be bit-deterministic (fixed SEED):
    two runs at factor=2 over sf0.001 produce identical documents
    (content digest) and identical row counts per table — the
    scale-proof corpus is reproducible, not a one-off."""
    import jobs.expand_testdata as ex
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR as src
    outs = []
    for run in ("a", "b"):
        out = str(tmp_path / run)
        ex.expand_documents(spark, src, out, 2)
        ex.expand_offset(spark, src, out, "events", 2, {"user_id": 1_000_000})
        d = spark.read.parquet(f"{out}/documents.parquet")
        agg = d.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(doc_id, source, text))").alias("digest"),
        ).collect()[0]
        ev = spark.read.parquet(f"{out}/events.parquet").count()
        outs.append((int(agg["n"]), int(agg["digest"]), int(ev)))
    assert outs[0] == outs[1]
    n_src = spark.read.parquet(f"{src}/documents.parquet").count()
    assert outs[0][0] == 2 * n_src
