"""The stat-keyed zip directory cache installed in PySpark workers
(btl_bloomfilter_spark._worker).

The unit checks run in a subprocess so this process's import system
stays unpatched; the Spark-level check counts directory re-reads per
task in real, reused Python workers."""
import os
import subprocess
import sys

import pytest

from btl_bloomfilter_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code, tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().endswith("OK"), out.stdout


def test_driver_is_unpatched():
    # importing the package here (a driver, not a worker) changes nothing
    assert not _worker.is_installed()


_UNCHANGED_AND_REWRITTEN = r"""
import importlib, os, sys, zipfile, zipimport
zp = os.path.join(sys.argv[1], "mods.zip")

def write(body):
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("zmod.py", body)

write("VALUE = 1\n")
sys.path.insert(0, zp)
import zmod
assert zmod.VALUE == 1

from pyspark.core.files import SparkFiles
SparkFiles._is_running_on_worker = True  # what setup_spark_files sets
from btl_bloomfilter_spark import _worker  # the package import installs it
assert _worker.is_installed()
patched = zipimport.zipimporter.invalidate_caches
assert _worker.install_zip_directory_cache()  # second install: no re-wrap
assert zipimport.zipimporter.invalidate_caches is patched
assert _worker._original_invalidate is not patched

reads = []
original_read = zipimport._read_directory
def counting_read(archive):
    reads.append(archive)
    return original_read(archive)
zipimport._read_directory = counting_read

for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads
assert _worker.directory_reads == 0

# new size and mtime: the next invalidation re-reads it, exactly once
write("VALUE = 22222  # longer\n")
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [zp], reads
assert _worker.directory_reads == 1
del sys.modules["zmod"]
import zmod
assert zmod.VALUE == 22222, zmod.VALUE
print("OK")
"""


def test_unchanged_archive_not_reread_and_rewrite_seen(tmp_path):
    _run(_UNCHANGED_AND_REWRITTEN, tmp_path)


_NOT_INSTALLED = r"""
import sys, zipimport
original = zipimport.zipimporter.invalidate_caches
from btl_bloomfilter_spark import _worker
# a driver that never imported SparkFiles
assert not _worker.install_zip_directory_cache()
# a driver that did: the worker flag stays False
from pyspark.core.files import SparkFiles
assert not _worker.install_zip_directory_cache()
# a worker on an interpreter that reads zip directories lazily
SparkFiles._is_running_on_worker = True
real_version = sys.version_info
sys.version_info = (3, 13, 0, "final", 0)
try:
    assert not _worker.install_zip_directory_cache()
finally:
    sys.version_info = real_version
assert zipimport.zipimporter.invalidate_caches is original
assert not _worker.is_installed()
print("OK")
"""


def test_not_installed_outside_worker_or_on_313(tmp_path):
    _run(_NOT_INSTALLED, tmp_path)


@pytest.mark.spark
def test_reused_workers_stop_rereading_archives(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "reads": _worker.directory_reads,
            "patched": _worker.is_installed(),
            "zip_importers": sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            ),
            "skip": _worker._skip_reason(),
        }])

    n = 4 * spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, numPartitions=n).mapInArrow(
        probe, "pid long, reads long, patched boolean, zip_importers long, skip string"
    ).collect()
    assert len(rows) == n
    if all(r.skip is not None and not r.patched for r in rows):
        pytest.skip(f"not installed in workers: {rows[0].skip}")
    if not any(r.zip_importers for r in rows):
        pytest.skip("workers import nothing from zip archives")
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r)
    # worker reuse is on: some worker ran more than one task of this job
    assert max(len(v) for v in by_pid.values()) >= 2, by_pid
    for pid, tasks in by_pid.items():
        # the UDF's unpickling imports the package, so even a worker's
        # first task runs with the cache installed
        assert all(t.patched for t in tasks), (pid, tasks)
        # no directory re-read between this worker's tasks
        assert len({t.reads for t in tasks}) == 1, (pid, tasks)
