"""Contract guards for bench.py — the driver parses its stdout and
BENCH_r{N}.json is the authoritative perf series, so drift here is a
silent loss of the perf gate (round 6 lost its parsed bench to an
oversized stdout line; a renamed query would silently drop from the
headline set because the run loop `registry.get(name)`-skips)."""

from __future__ import annotations

import importlib.util
import os

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


def test_read_steal_is_nonnegative_int():
    """The per-rep steal annotation must degrade to 0, never raise —
    it wraps every timed rep."""
    bench = _load_bench()
    s = bench._read_steal()
    assert isinstance(s, int)
    assert s >= 0


def test_compact_line_stays_parseable():
    """The compact stdout line for the CURRENT headline set must stay
    far under the driver's tail capture (~1.5 KB budget, VERDICT r6
    #1).  Rendered with worst-case 4-digit-seconds values."""
    import json

    bench = _load_bench()
    queries = {n: 9999.999 for n in bench.HEADLINE}
    queries["graph_build_770x6000"] = 9999.999
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.999,
            "unit": "sec",
            "queries": queries,
            "build_min_sec": 9999.999,
            "fixed_total_sec": 9999.999,
            "clean_min_total_sec": 99999.999,
            "host_speed_index": 9.999,
            "host_bw_index": 9.999,
            "sf": 0.1,
        }
    )
    assert len(line) <= 1500, f"compact bench line {len(line)} B > 1.5 KB budget"


def test_bandwidth_probe_contract():
    """The r12 memory-bandwidth leg: best-of-reps GiB/s with all reps
    retained, reference fixed (never re-measured per run)."""
    bench = _load_bench()
    best, rates = bench._bandwidth_probe(reps=2)
    assert len(rates) == 2 and best == max(rates)
    assert all(r > 0 for r in rates)
    assert bench.BW_REF_GIBS == 7.1  # pinned r12 denominator


def test_steal_retry_rule():
    """The steal-aware rep policy is a pure function: clean median
    ignores polluted reps, falls back when all are polluted, and the
    stop rule caps at 2x planned."""
    from bench import _clean_median, _reps_done

    # storm on reps 1-2, clean 3-5: median over the clean three
    times = [39.2, 54.1, 15.0, 14.4, 13.1]
    steals = [11206, 7152, 69, 33, 24]
    assert _clean_median(times, steals) == 14.4
    # all polluted: plain median, never an empty sample
    assert _clean_median([10.0, 20.0, 30.0], [999, 999, 999]) == 20.0
    # stop: 3 planned, 3 clean -> done
    assert _reps_done([1, 1, 1], [0, 0, 0], 3)
    # 3 planned, one polluted -> keep going
    assert not _reps_done([1, 1, 1], [0, 999, 0], 3)
    # hard cap at 2x planned even if never clean
    assert _reps_done([1] * 6, [999] * 6, 3)
    assert not _reps_done([1] * 5, [999] * 5, 3)


def test_bandwidth_gate_rule():
    """The r16 second gate (VERDICT r15 #1): a rep whose DRAM probe
    bracket reads below 70% of the reference is dirty even at zero
    steal — the r15 doc_jaccard_containment failure mode (reps
    [26.2, 49.9, 37.4, 3.75] at steal [4216, 96, 66, 6]: only the
    3.75 s rep ran on a healthy bus)."""
    from bench import (
        BW_CLEAN_FRACTION,
        BW_REF_GIBS,
        _clean_median,
        _clean_min,
        _reps_done,
    )

    times = [26.2, 49.9, 37.4, 3.75]
    steals = [4216, 96, 66, 6]
    bw = [1.4, 1.5, 1.6, 9.8]  # the bus during each rep, GiB/s
    # both gates: only the last rep is clean -> median == min == 3.75
    assert _clean_median(times, steals, bw_gibs=bw) == 3.75
    assert _clean_min(times, steals, bw_gibs=bw) == 3.75
    # old steal-only gate (bw omitted) reproduces the r15 defect
    assert _clean_median(times, steals) == 37.4
    # all reps bw-dirty: fall back to the steal-clean sample, not the
    # plain all-reps median
    assert _clean_median(times, steals, bw_gibs=[1.0] * 4) == 37.4
    # steal-clean but bw-dirty reps do NOT satisfy the stop rule
    assert not _reps_done([1, 1, 1], [0, 0, 0], 3, bw_gibs=[1.0, 9.0, 9.0])
    assert _reps_done([1, 1, 1], [0, 0, 0], 3, bw_gibs=[9.0, 9.0, 9.0])
    # threshold sanity: the calm-host floor clears the gate
    assert 9.8 >= BW_CLEAN_FRACTION * BW_REF_GIBS
    assert 1.6 < BW_CLEAN_FRACTION * BW_REF_GIBS


def test_bw_quick_probe_contract():
    """The per-rep quick probe returns a positive GiB/s and reuses its
    buffer (allocation must not bill every probe)."""
    import bench

    r1 = bench._bw_quick()
    arr_id = id(bench._bw_quick_arr)
    r2 = bench._bw_quick()
    assert r1 > 0 and r2 > 0
    assert id(bench._bw_quick_arr) == arr_id


def test_parse_sf_falls_back_on_malformed_names():
    """One scale-factor parser for bench and the A/B tools: a trailing
    sf<N> directory parses, anything else reads -1.0 instead of raising."""
    from bench import _parse_sf

    assert _parse_sf("/data/sf0.1") == 0.1
    assert _parse_sf("/data/sf0.01/") == 0.01
    assert _parse_sf("/data/sf0.1.") == -1.0
    assert _parse_sf("/data/sf0.0.1") == -1.0
    assert _parse_sf("/data/tables") == -1.0


def test_clean_flags_rejects_mismatched_readings():
    """Per-rep steal and bandwidth readings must pair one to one; zip
    would silently drop the unpaired reps."""
    import pytest
    from bench import _clean_flags

    assert _clean_flags([0, 999], [9.0, 9.0]) == [True, False]
    with pytest.raises(ValueError):
        _clean_flags([0, 0, 0], [9.0, 9.0])
