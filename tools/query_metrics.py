"""Deterministic per-query execution metrics.

Wall-clock on a shared host moves with co-tenant load, so A/Bs also
record the facts that do not: number of jobs and tasks, shuffle write
bytes, and executor CPU time.  Each named query runs once (after a
codegen warmup at the smallest sibling SF) on the
``get_spark`` session with the Spark event log on; once the session
stops, the log is parsed and each query's jobs (those submitted inside
its run) are summed into one printed JSON line.

Usage: python tools/query_metrics.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _parse_sf, _warmup_dir  # noqa: E402
from pangenomesasgraphdatabases_spark.queries.registry import all_queries  # noqa: E402
from pangenomesasgraphdatabases_spark.session import get_spark  # noqa: E402
from pipebench.tracing import parse_event_log  # noqa: E402


def _enable_event_log(event_dir: str) -> None:
    """Turn the uncompressed, single-file event log on for the JVM
    that ``get_spark`` is about to launch."""
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    event_dir = tempfile.mkdtemp(prefix="query-metrics-")
    _enable_event_log(event_dir)
    spark = get_spark("query-metrics")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    warm = _warmup_dir(sf_dir, _parse_sf(sf_dir))
    runs = []
    for name in names:
        q = registry[name]
        if warm:
            q.fn(spark, warm).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        t0 = time.time()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        runs.append((name, t0, t1))
        spark.catalog.clearCache()
    spark.stop()  # flushes and closes the event log

    (log,) = os.listdir(event_dir)
    jobs, totals = parse_event_log(os.path.join(event_dir, log))
    shutil.rmtree(event_dir)
    for name, t0, t1 in runs:
        mine = [totals[jid] for t_sub, jid in jobs if t0 <= t_sub <= t1]
        print(json.dumps({
            "jobs": len(mine),
            "tasks": sum(t.tasks for t in mine),
            "shuffle_write": sum(t.shuffle_write_b for t in mine),
            "cpu_ms": round(sum(t.cpu_s for t in mine) * 1000),
            "run_ms": round(sum(t.run_s for t in mine) * 1000),
            "query": name,
            "wall": round(t1 - t0, 3),
        }), flush=True)


if __name__ == "__main__":
    main()
