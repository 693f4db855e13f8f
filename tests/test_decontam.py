"""Benchmark-decontamination screen: planted-contamination recall,
clean-corpus FPR bound, filter reuse across shards."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from btl_bloomfilter_spark.operators.decontam import contamination_screen


@pytest.mark.spark
def test_contamination_screen_planted(spark):
    rng = np.random.default_rng(13)
    letters = list("abcdefghijklmnopqrstuvwxyz ")

    def doc(n):
        return "".join(rng.choice(letters, size=n))

    bench_texts = [doc(300) for _ in range(40)]
    clean = [doc(400) for _ in range(60)]
    # contaminated: a verbatim benchmark sentence (~120 bytes) inside
    # otherwise-clean text
    contaminated = []
    for i in range(20):
        span = bench_texts[i % len(bench_texts)][50:170]
        base = doc(400)
        contaminated.append(base[:200] + span + base[200:])
    bench = spark.createDataFrame([(t,) for t in bench_texts], "text string")
    corpus = spark.createDataFrame(
        [(i, t, False) for i, t in enumerate(clean)]
        + [(1000 + i, t, True) for i, t in enumerate(contaminated)],
        "doc_id long, text string, dirty boolean",
    )
    screened, bloom = contamination_screen(corpus, bench, "text", k=25, fpr=1e-4)
    pdf = screened.toPandas()
    dirty = pdf[pdf.dirty]
    cleanp = pdf[~pdf.dirty]
    # 120-byte planted span in a 520-byte doc → ≥ (120-25+1)/~500 ≈ 0.19
    assert (dirty.contamination_frac >= 0.15).all(), dirty.contamination_frac.min()
    # clean docs bounded by the FPR floor (generous 50x slack on tiny n)
    assert (cleanp.contamination_frac <= max(50 * bloom.fpr(), 0.01)).all()
    # exact benchmark members are fully seen — no false negatives
    mn = (
        contamination_screen(bench, bench, "text", k=25, bloom=bloom)[0]
        .agg(F.min("contamination_frac"))
        .collect()[0][0]
    )
    assert mn == 1.0
    # shard reuse: passing the filter back skips the rebuild and gives
    # identical fractions
    again, bloom2 = contamination_screen(corpus, bench, "text", k=25, bloom=bloom)
    assert bloom2 is bloom
    pdf2 = again.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd1 = pdf.sort_values("doc_id").reset_index(drop=True)
    assert (pdf2.contamination_frac == pd1.contamination_frac).all()
    # k mismatch on reuse is refused
    with pytest.raises(ValueError, match="k="):
        contamination_screen(corpus, bench, "text", k=13, bloom=bloom)


@pytest.mark.spark
def test_decontaminate_job_roundtrip(spark, tmp_path):
    """CLI job: screen a corpus against a benchmark, persist the
    benchmark filter in .bf layout, and re-screen a second shard from
    the saved filter without a rebuild."""
    import jobs.decontaminate as dj

    rng = np.random.default_rng(29)
    letters = list("abcdefghij ")

    def doc(n):
        return "".join(rng.choice(letters, size=n))

    bench_texts = [doc(250) for _ in range(20)]
    corpus = [(i, doc(300)) for i in range(30)] + [
        (100 + i, doc(150) + bench_texts[i][40:160] + doc(150)) for i in range(5)
    ]
    bpath, cpath = str(tmp_path / "bench.parquet"), str(tmp_path / "corpus.parquet")
    spark.createDataFrame([(t,) for t in bench_texts], "text string").write.parquet(bpath)
    spark.createDataFrame(corpus, "doc_id long, text string").write.parquet(cpath)
    out1, bf = str(tmp_path / "scr1.parquet"), str(tmp_path / "bench.bf")
    s1 = dj.main(
        ["--corpus", cpath, "--bench", bpath, "-o", out1, "--k", "25", "--filter-out", bf]
    )
    assert s1["n"] == 35 and s1["n_quarantined"] == 5
    # shard 2 from the saved filter, no --bench
    out2 = str(tmp_path / "scr2.parquet")
    s2 = dj.main(["--corpus", cpath, "-o", out2, "--k", "25", "--filter-in", bf])
    assert s2["n_quarantined"] == 5
    p1 = spark.read.parquet(out1).toPandas().sort_values("doc_id").reset_index(drop=True)
    p2 = spark.read.parquet(out2).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert (p1.contamination_frac == p2.contamination_frac).all()
    assert set(p1[p1.quarantine].doc_id) == {100, 101, 102, 103, 104}


@pytest.mark.spark
def test_contamination_screen_streaming_equals_batch(spark, tmp_path):
    """With a prebuilt filter the screen runs on a streaming ``docs``:
    an availableNow file stream yields the batch screen's fractions."""
    rng = np.random.default_rng(31)
    letters = list("abcdefghij ")

    def doc(n):
        return "".join(rng.choice(letters, size=n))

    bench_texts = [doc(200) for _ in range(10)]
    rows = [(i, doc(300)) for i in range(40)] + [
        (100 + i, doc(100) + bench_texts[i][30:150] + doc(100)) for i in range(8)
    ] + [(200, None), (201, "")]
    src = tmp_path / "src"
    for j in range(3):  # three files → several micro-batches of input
        spark.createDataFrame(rows[j::3], "doc_id long, text string").write.parquet(str(src / f"f{j}"))
    bench = spark.createDataFrame([(t,) for t in bench_texts], "text string")
    corpus = spark.read.parquet(*[str(src / f"f{j}") for j in range(3)])
    batch, bloom = contamination_screen(corpus, bench, "text", k=25, keep=["doc_id"])
    want = {r.doc_id: r.contamination_frac for r in batch.collect()}

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    screened, same = contamination_screen(stream, None, "text", k=25, keep=["doc_id"], bloom=bloom)
    assert same is bloom and screened.isStreaming
    out = tmp_path / "out"
    (
        screened.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {r.doc_id: r.contamination_frac for r in spark.read.parquet(str(out)).collect()}
    assert got == want
    assert min(want[100 + i] for i in range(8)) > 0.15 and want[200] == want[201] == 0.0
