"""get_spark on a pre-existing SparkContext: the periodic-GC interval is
read once at context start, so a context holding another value must
warn.  Runs in a subprocess so the shared `spark` fixture's confs are
untouched."""
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRELUDE = r"""
import warnings
from pyspark.sql import SparkSession
from btl_bloomfilter_spark.session import get_spark

KEY = "spark.cleaner.periodicGC.interval"
EXTRA = {"spark.ui.enabled": "false"}

def gc_warnings(**kw):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        s = get_spark("conf-check", master="local[1]", ship_package=False, **kw)
    return s, [str(x.message) for x in w if KEY in str(x.message)]
"""

# in a fresh JVM: a context get_spark started leaves the interval in the
# JVM's system properties, which every later context in it inherits
_UNSET = _PRELUDE + r"""
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
s, got = gc_warnings(extra_conf=EXTRA)
assert len(got) == 1 and "unset" in got[0], got
s.stop()
print("OK")
"""

_OTHER_VALUE = _PRELUDE + r"""
# a context get_spark creates holds its value: no warning, then or later
s, got = gc_warnings(extra_conf=EXTRA)
assert got == [], got
assert s.sparkContext.getConf().get(KEY) == "60s"
s, got = gc_warnings(extra_conf=EXTRA)
assert got == [], got
s.stop()

# a pre-existing context with another value: warned, value kept
(SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
 .config(KEY, "5min").getOrCreate())
s, got = gc_warnings(extra_conf=EXTRA)
assert len(got) == 1 and "5min" in got[0] and "60s" in got[0], got
assert s.sparkContext.getConf().get(KEY) == "5min"
# asking for the value the context holds: no warning
s, got = gc_warnings(extra_conf={**EXTRA, KEY: "5min"})
assert got == [], got
s.stop()
print("OK")
"""


@pytest.mark.spark
@pytest.mark.parametrize("code", [_UNSET, _OTHER_VALUE], ids=["unset", "other_value"])
def test_periodic_gc_warns_on_preexisting_context(code, tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=dict(os.environ, PYTHONPATH=REPO),
        cwd=str(tmp_path),
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().endswith("OK"), out.stdout
