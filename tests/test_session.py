"""The session factory sizes itself to the host and ships the package
to its Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from pangenomesasgraphdatabases_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total() -> int:
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return kb * 1024


def test_heap_within_host_share(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        assert heap == os.environ["SPARK_DRIVER_MEMORY"]
        return
    assert heap.endswith("g")
    assert 2**30 <= int(heap[:-1]) * 2**30 <= session.HEAP_SHARE * _mem_total()


_UDF_RUN = f"""
import sys
sys.path.insert(0, {REPO!r})
from pangenomesasgraphdatabases_spark.functions.sequence import cai
from pangenomesasgraphdatabases_spark.session import get_spark

spark = get_spark("worker-path", shuffle_partitions=1)
df = spark.createDataFrame([("ATGAAACGCATTAGCACCACCATTACCACCACCATCACCATTACCACAGGTAACGGTGCGGGCTGA",)], ["s"])
print("CAI", df.select(cai("s")).first()[0])
spark.stop()
"""


def test_pandas_udf_runs_outside_repo():
    """Workers import the package although neither the caller's cwd
    nor PYTHONPATH points at it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_GRAFT_CPUS"] = "1"
    r = subprocess.run(
        [sys.executable, "-c", _UDF_RUN],
        cwd=tempfile.gettempdir(), env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    (line,) = [ln for ln in r.stdout.splitlines() if ln.startswith("CAI ")]
    assert 0.0 < float(line.split()[1]) <= 1.0
