"""The build kernels feed every non-string column to ``update()``
through PySpark's own Arrow→pandas conversion — the one mapInPandas
applies, session time zone included — so a sketch sees exactly the
values the pandas UDF path gave it.  Checked against a driver-local
``update()`` over the series mapInPandas delivers, under a non-UTC
session time zone, for the one build kernel with no keys
(``build_sketch``) and with group keys (``sketch_by_key``)."""

import pickle

import pytest

COLS = {
    "l": "id * 7 % 101",
    "d": "id / 7.0",
    "b": "id % 3 = 0",
    "dt": "date_add(date'2020-01-01', cast(id % 400 as int))",
    "ts": "timestamp_seconds(1600000000 + id * 3607)",
    "dec": "cast(id * 1.25 as decimal(10, 2))",
    "bin": "cast(concat('b', id % 50) as binary)",
}
N = 2000


def _sketches():
    from btl_bloomfilter_spark.operators.counting import CountMinSketch
    from btl_bloomfilter_spark.operators.hll import HyperLogLog
    from btl_bloomfilter_spark.operators.kll import KLL

    return [lambda: KLL(k=32, seed=3), lambda: HyperLogLog(p=10), lambda: CountMinSketch.from_error(0.01, 0.01)]


@pytest.fixture
def table(spark):
    """One partition (one Arrow batch), every column with nulls, read
    under a non-UTC session time zone."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        exprs = [f"case when id % 11 = 0 then null else {e} end as {c}" for c, e in COLS.items()]
        yield spark.range(0, N, numPartitions=1).selectExpr("cast(id % 3 as string) as g", *exprs)
    finally:
        spark.conf.set(key, old)


def _pandas_columns(df):
    """{column: pd.Series} exactly as mapInPandas hands them to a UDF."""

    def fn(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"blob": [pickle.dumps(pdf)]})

    (row,) = df.mapInPandas(fn, "blob binary").collect()
    return pickle.loads(row["blob"])


def _local(mk, series):
    """Serialized driver-local sketch over ``series``, or the exception
    type its ``update`` raises."""
    sk = mk()
    try:
        sk.update(series)
    except (TypeError, ValueError) as e:
        return type(e).__name__
    return sk.serialize()


@pytest.mark.spark
def test_build_kernel_matches_mapinpandas_conversion(spark, table):
    from pyspark.errors import PythonException

    from btl_bloomfilter_spark.plans.agg import build_sketch

    pdf = _pandas_columns(table)
    assert str(pdf["ts"].dtype) == "datetime64[ns]"  # naive wall time, not tz-aware
    for col in COLS:
        for mk in _sketches():
            want = _local(mk, pdf[col])
            name = f"{type(mk()).__name__}({col})"
            if isinstance(want, str):
                with pytest.raises(PythonException, match=want):
                    build_sketch(table, col, mk)
            else:
                assert build_sketch(table, col, mk).serialize() == want, name


@pytest.mark.spark
def test_grouped_kernel_matches_mapinpandas_conversion(spark, table):
    from btl_bloomfilter_spark.operators.base import Sketch
    from btl_bloomfilter_spark.plans.agg import sketch_by_key

    pdf = _pandas_columns(table)
    for col in ("l", "b", "ts", "dec"):
        for mk in _sketches():
            got = sketch_by_key(table, ["g"], col, mk, lambda sk: sk.serialize(), "blob", out_type="binary")
            got = {r["g"]: bytes(r["blob"]) for r in got.collect()}
            for g, sub in pdf.groupby("g"):
                want = Sketch.merge_blobs([_local(mk, sub[col])]).serialize()
                assert got[g] == want, f"{type(mk()).__name__}({col}) g={g}"
