"""The Arrow probe UDF equals the driver-local probe: ``*_arrow``
methods on string columns, the pandas methods over PySpark's own
Arrow→pandas conversion on every other input."""

import numpy as np
import pyarrow as pa
import pytest

from btl_bloomfilter_spark.operators.bloom import BloomFilter


CORPUS = ["hello world test", None, "", "ab", "héllo ✓"] + [f"doc {i} payload words" for i in range(200)]


@pytest.mark.parametrize("k", [0, 6])
def test_arrow_probe_equals_pandas(k):
    bf = BloomFilter(1 << 16, 3, k)
    bf.update(CORPUS[: len(CORPUS) // 2])
    arr = pa.array(CORPUS, pa.string())
    np.testing.assert_array_equal(bf.seen_fraction_arrow(arr), bf.seen_fraction(CORPUS))
    np.testing.assert_array_equal(bf.contains_arrow(arr), bf.contains_batch(CORPUS))


def _corpus_df(spark):
    return spark.createDataFrame(list(enumerate(CORPUS)), "id long, text string").repartition(4)


def _by_id(rows, col):
    return np.array([r[col] for r in sorted(rows, key=lambda r: r["id"])])


@pytest.mark.spark
def test_with_probe_columns(spark):
    for k in (0, 6):
        _check_probe_columns(spark, k)


def _check_probe_columns(spark, k):
    from btl_bloomfilter_spark.functions.probe import bloom_contains, bloom_seen_fraction, with_probe_columns

    bf = BloomFilter(1 << 16, 3, k)
    bf.update(CORPUS[::2])
    arr = pa.array(CORPUS, pa.string())
    frac, hit = bf.seen_fraction_arrow(arr), bf.contains_arrow(arr)
    assert 0 < hit.sum() < len(CORPUS)  # both outcomes occur
    df = _corpus_df(spark)

    out = with_probe_columns(df, bf, "text", frac_col="frac", contains_col="hit")
    assert out.columns == ["id", "text", "frac", "hit"]
    rows = out.collect()
    np.testing.assert_array_equal(_by_id(rows, "frac"), frac)
    np.testing.assert_array_equal(_by_id(rows, "hit"), hit)
    assert list(_by_id(rows, "text")) == CORPUS

    kept = with_probe_columns(df, bf, "text", frac_col="frac", keep=["id"])
    assert kept.columns == ["id", "frac"]
    np.testing.assert_array_equal(_by_id(kept.collect(), "frac"), frac)

    cols = df.select(
        "id",
        bloom_seen_fraction(spark, bf, "text").alias("frac"),
        bloom_contains(spark, bf, "text").alias("hit"),
    ).collect()
    np.testing.assert_array_equal(_by_id(cols, "frac"), frac)
    np.testing.assert_array_equal(_by_id(cols, "hit"), hit)


@pytest.mark.spark
def test_pandas_fallback_probes(spark):
    """Sketches without an ``*_arrow`` method, and non-string columns,
    see the values mapInPandas would deliver."""
    from btl_bloomfilter_spark.functions.probe import counting_estimate
    from btl_bloomfilter_spark.operators.counting import CountingBloomFilter
    from btl_bloomfilter_spark.operators.cuckoo import build_cuckoo_filter, cuckoo_contains
    from btl_bloomfilter_spark.plans.agg import _pandas_conversion

    to_pandas = _pandas_conversion(spark.conf.get("spark.sql.session.timeZone"))

    cbf = CountingBloomFilter(1 << 14, 3, 4)
    cbf.update(CORPUS + CORPUS[:50])
    got = _by_id(_corpus_df(spark).select("id", counting_estimate(spark, cbf, "text").alias("e")).collect(), "e")
    np.testing.assert_array_equal(got, cbf.estimate_batch(to_pandas(pa.array(CORPUS, pa.string()))))
    assert got.max() >= 2

    keys = spark.createDataFrame([(str(i),) for i in range(2000)], "key string")
    cf = build_cuckoo_filter(keys, "key", fp_bits=16, salt=3, target_block_keys=1 << 10)
    ids = spark.range(0, 3000, numPartitions=3)
    got = _by_id(ids.select("id", cuckoo_contains(spark, cf, "id").alias("h")).collect(), "h")
    want = cf.contains_batch(to_pandas(pa.array(np.arange(3000), pa.int64())))
    np.testing.assert_array_equal(got, want)
    assert want[:2000].all()
