"""Contract guards for bench.py, the per-query timer: its stdout is
parsed as one compact JSON line (round 6 lost its parsed bench to an
oversized line), and a headline name must resolve in the registry."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_headline_names_all_registered():
    """Every HEADLINE entry must resolve in the registry — a rename
    or removal must fail here, not silently shrink the bench."""
    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    bench = _load_bench()
    registry = all_queries()
    missing = [n for n in bench.HEADLINE if n not in registry]
    assert not missing, f"headline queries not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headline"


def test_compact_line_stays_parseable():
    """The compact stdout line for the CURRENT headline set must stay
    far under the driver's tail capture (~1.5 KB budget, VERDICT r6
    #1).  Rendered with worst-case 4-digit-seconds values."""
    bench = _load_bench()
    queries = {n: 9999.999 for n in bench.HEADLINE}
    queries["graph_build_770x6000"] = 9999.999
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.999,
            "unit": "sec",
            "queries": queries,
            "fixed_total_sec": 9999.999,
            "min_total_sec": 99999.999,
            "build_min_sec": 9999.999,
            "sf": 0.1,
        }
    )
    assert len(line) <= 1500, f"compact bench line {len(line)} B > 1.5 KB budget"


def test_parse_sf_falls_back_on_malformed_names():
    """One scale-factor parser for bench and the A/B tools: a trailing
    sf<N> directory parses, anything else reads -1.0 instead of raising."""
    from bench import _parse_sf

    assert _parse_sf("/data/sf0.1") == 0.1
    assert _parse_sf("/data/sf0.01/") == 0.01
    assert _parse_sf("/data/sf0.1.") == -1.0
    assert _parse_sf("/data/sf0.0.1") == -1.0
    assert _parse_sf("/data/tables") == -1.0


def test_main_times_named_query_only(tmp_path):
    """`bench.py NAME` times just that entry, exactly its planned reps,
    and keeps stdout to the one compact line.  Run from a copy so the
    repository's BENCH_DETAIL.json is left alone."""
    shutil.copy(os.path.join(REPO, "bench.py"), tmp_path)
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_REPS="1",
        SPARK_DRIVER_MEMORY="1g",
    )
    r = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py"), "lag_adjacency_edges"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    (line,) = r.stdout.splitlines()
    out = json.loads(line)
    assert set(out) == {
        "metric", "value", "unit", "queries", "fixed_total_sec",
        "min_total_sec", "build_min_sec", "sf",
    }
    assert list(out["queries"]) == ["lag_adjacency_edges"]
    assert out["sf"] == 0.001 and out["build_min_sec"] is None
    with open(tmp_path / "BENCH_DETAIL.json") as fh:
        detail = json.load(fh)
    (rep,) = detail["reps"]["lag_adjacency_edges"]
    assert out["value"] == out["min_total_sec"] == rep
