"""SparkSession bootstrap for the sketch library.

Creates a session with the configs the library assumes (Arrow-batched
Python UDFs, AQE) and ships the package itself to executors via
``sc.addPyFile`` — the programmatic equivalent of
``spark-submit --py-files`` (north_rule launch mode), so kernels
running inside ``mapInPandas`` can import the package on any cluster,
not just when the driver's cwd happens to be on the workers' path.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

from pyspark.sql import SparkSession

_PERIODIC_GC = "spark.cleaner.periodicGC.interval"

_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Long-running drivers accumulate dead RDD/broadcast/checkpoint
    # blocks: ContextCleaner frees them only when the JVM happens to
    # collect the weak references, and a large driver heap can go many
    # minutes without a full GC — measured on the 114-entry bench
    # marathon as a monotone pass-over-pass slowdown (entries 2-3x
    # their fresh-JVM floor by pass 2) from storage-memory pressure.
    # The stock remedy is Spark's own periodic-GC tick (default 30min,
    # far longer than most query bursts); 60s keeps the cleaner live
    # without measurable pause cost.  Read once when the SparkContext
    # starts: a pre-existing context keeps its own value.
    _PERIODIC_GC: "60s",
}


_ZIP_CACHE: str | None = None


def _enclosing_zip() -> str | None:
    """Path of the .zip archive this package is imported from (the
    ``spark-submit --py-files`` launch mode), else None.  Detected by
    walking up from ``__file__``: inside an archive, some ancestor
    "directory" component is actually a file on disk."""
    p = os.path.dirname(os.path.abspath(__file__))
    while p and p != os.path.dirname(p):
        if os.path.isfile(p):
            return p if p.lower().endswith(".zip") else None
        p = os.path.dirname(p)
    return None


def package_zip() -> str:
    """Zip this package into a PER-PROCESS temp dir; returns the zip
    path (cached for the process).  A fixed shared path would let two
    concurrent drivers ship each other's half-written archive, and on
    a multi-user host the second user would hit PermissionError on
    the first user's directory.

    When the package is ITSELF imported from a ``--py-files`` zip
    (the north-rule spark-submit launch), that archive IS the package
    zip — re-archiving would try to walk a directory inside the zip
    and fail — so the enclosing archive path is returned as-is."""
    global _ZIP_CACHE
    if _ZIP_CACHE is not None and os.path.exists(_ZIP_CACHE):
        return _ZIP_CACHE
    zp = _enclosing_zip()
    if zp is not None:
        _ZIP_CACHE = zp
        return zp
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = tempfile.mkdtemp(prefix="btl_bloomfilter_spark_pyfiles_")
    out = os.path.join(base, "btl_bloomfilter_spark")
    _ZIP_CACHE = shutil.make_archive(
        out, "zip", root_dir=os.path.dirname(pkg_dir), base_dir=os.path.basename(pkg_dir)
    )
    return _ZIP_CACHE


def get_spark(
    app_name: str = "btl_bloomfilter_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    ship_package: bool = True,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    spark = b.getOrCreate()
    # getOrCreate on an ALREADY-LIVE session silently drops builder
    # configs; apply the runtime-settable ones directly and warn when
    # a static conf could not take effect
    wanted = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        wanted["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    wanted.update({k: str(v) for k, v in (extra_conf or {}).items()})
    gc_interval = wanted.pop(_PERIODIC_GC)
    held = spark.sparkContext.getConf().get(_PERIODIC_GC, None)
    if held != gc_interval:
        # spark.conf.set may record this core conf without effect, so
        # the context's own conf is the only reliable check
        warnings.warn(
            f"get_spark: the pre-existing SparkContext has {_PERIODIC_GC}="
            f"{held or 'unset (30min default)'}, not {gc_interval}; its "
            f"ContextCleaner keeps that interval",
            stacklevel=2,
        )
    for k, v in wanted.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            warnings.warn(
                f"get_spark: conf {k}={v} could not be applied to the pre-existing "
                f"SparkSession (static conf); the session keeps its original value",
                stacklevel=2,
            )
    if ship_package:
        attach_package(spark)
    return spark


def attach_package(spark: SparkSession) -> None:
    """Ship this package to executors of an existing session.

    No-op when the package is already imported from a
    ``spark-submit --py-files`` archive: spark-submit has distributed
    that zip to every executor, and re-adding the same logical name
    from a different local path can conflict with the existing
    registration.  (Corner case: a zip placed on ``sys.path`` by hand
    WITHOUT --py-files is also skipped — ship it yourself in that
    launch mode.)"""
    zp = package_zip()
    if _enclosing_zip() == zp:
        return
    spark.sparkContext.addPyFile(zp)
