"""Per-query timer for the registered queries.

Usage: python bench.py [query ...]

Runs at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables) on the
``get_spark`` session.  With no arguments it times the HEADLINE set
plus the 770x6000 graph build (entry ``graph_build_770x6000``); given
names, it times only those (any registered query, or the build entry).

Each query is forced end to end with the noop datasource (full
materialization, no driver collect).  Every entry runs exactly
$SPARK_GRAFT_REPS reps (default 3; the build runs max(reps, 5)) and
reports the median and the min of ALL its reps: no rep is dropped,
retried or reweighted.  The benchmark of record for the paper's
pipeline is ``pipebench/`` (BENCHMARK.json); ``tools/query_metrics.py``
gives the per-query Spark counters (jobs, tasks, CPU, shuffle).

stdout carries EXACTLY ONE compact JSON line (readers that keep only
the tail of stdout parse it, so it stays under ~1.5 KB):
{"metric", "value", "unit", "queries", "fixed_total_sec",
"min_total_sec", "build_min_sec", "sf"}.  Every rep goes to
``BENCH_DETAIL.json`` next to this file and to stderr."""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pangenomesasgraphdatabases_spark.queries.registry import all_queries
from pangenomesasgraphdatabases_spark.session import get_spark

HEADLINE = [
    "gi_scan_flagship",
    "multiway_join_revenue",
    "lag_adjacency_edges",
    "interval_path_counts",
    "rolling_mean_min_periods",
    "group_collect_list",
    "canonical_pair_dedup",
    "dice_similarity_pairs",
    "doc_minhash_signature",
    "doc_lsh_near_dup_pairs",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "doc_ngram_jaccard_dedup",
    "events_sessionize",
    "pangenome_rgp",
    # r6: heavy queries new in r5/r6 tracked from birth (VERDICT r5 #4)
    "ann_ivfpq_topk",
    "emb_pq_codes",
    "doc_segment_dedup",
    "events_gap_fill",
    # r6 session 2: the join-heavy extension operators, tracked from birth
    "doc_fuzzy_match_pairs",
    "order_basket_pairs",
    "interval_sweep_concurrency",
    "events_hll_distinct",
    # r9: the posting self-join got in-plan width sizing this round
    # (operators/sizing); headline-tracked so a future sizing
    # regression is visible round-over-round.
    "doc_jaccard_containment",
    # r11 session 2: the ExactSubstr family, tracked from birth — the
    # gram-key window is the plan a regression would silently revert
    # to groupBy+join-back (3.5x slower at the 10x point, SCALE.md).
    "doc_duplicate_spans",
    "doc_duplicate_span_clean",
    # r12 (VERDICT r11 #8): the most expensive unheadlined media query
    # (2.4 s at sf0.1, 5.1x at 10x) — the real-decode + block-Hamming
    # path gets round-over-round tracking.
    "media_phash_pairs",
    # r13 (VERDICT r12 #8): the builtin aligner family, tracked from
    # birth — the exact-hit pipeline (seeding join + X-drop) and the
    # scored partial-identity variant that pins the extension
    # arithmetic (these md5-corpus queries stand in for SCALE.md r12's
    # dedicated corpus).
    "blast_builtin_exact_hits",
    "blast_builtin_scored_hits",
    # r14 birth anchor: the gapped banded-SW path end-to-end (hits ->
    # gapped Karlin-Altschul bits -> per-subject adapter -> enrich
    # writeback) — the aligner family's remaining unbenched path.
    "blast_builtin_gapped_enrich",
]

# Bench hygiene (VERDICT r9 #8): HEADLINE grows as heavy queries are
# born, which makes the all-queries total incomparable round-over-
# round.  FIXED_HEADLINE is the frozen r8-era membership; the compact
# line reports BOTH ``fixed_total_sec`` (like-for-like across rounds)
# and ``value`` (all current headline entries).  This tuple is an
# EXPLICIT LITERAL, deliberately not derived from HEADLINE (a derived
# tuple would silently absorb every future HEADLINE append and defeat
# the like-for-like guarantee): append-never, new queries join
# HEADLINE only.
FIXED_HEADLINE = (
    "gi_scan_flagship",
    "multiway_join_revenue",
    "lag_adjacency_edges",
    "interval_path_counts",
    "rolling_mean_min_periods",
    "group_collect_list",
    "canonical_pair_dedup",
    "dice_similarity_pairs",
    "doc_minhash_signature",
    "doc_lsh_near_dup_pairs",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "doc_ngram_jaccard_dedup",
    "events_sessionize",
    "pangenome_rgp",
    "ann_ivfpq_topk",
    "emb_pq_codes",
    "doc_segment_dedup",
    "events_gap_fill",
    "doc_fuzzy_match_pairs",
    "order_basket_pairs",
    "interval_sweep_concurrency",
    "events_hll_distinct",
    "graph_build_770x6000",
)


def _parse_sf(sf_dir: str) -> float:
    """Scale factor named by a trailing ``sf<N>`` directory; -1.0 when
    the name carries none or is not a number (``sf0.1.``)."""
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    try:
        return float(m.group(1)) if m else -1.0
    except ValueError:
        return -1.0


def _warmup_dir(sf_dir: str, sf: float) -> str | None:
    """Smallest sibling sf* directory below the measured scale — the
    codegen-warmup input (derived from the layout, not hardcoded:
    ADVICE r4)."""
    parent = os.path.dirname(os.path.abspath(sf_dir.rstrip("/")))
    best: tuple[float, str] | None = None
    try:
        entries = os.listdir(parent)
    except OSError:
        return None
    for name in entries:
        m = re.fullmatch(r"sf([0-9.]+)", name)
        full = os.path.join(parent, name)
        if not m or not os.path.isdir(full) or full == os.path.abspath(sf_dir.rstrip("/")):
            continue
        val = float(m.group(1))
        if (sf < 0 or val < sf) and (best is None or val < best[0]):
            best = (val, full)
    return best[1] if best else None


BUILD = "graph_build_770x6000"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_reps(spark, run, reps: int, before=None) -> list[float]:
    """Wall seconds of `reps` runs of `run`.  `before` (untimed) runs
    ahead of each rep; cached intermediates are dropped after each so
    every rep, and every later entry, measures its own work."""
    times: list[float] = []
    for _ in range(reps):
        if before is not None:
            before()
        t0 = time.perf_counter()
        run()
        times.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    sf = _parse_sf(sf_dir)
    registry = all_queries()
    names = sys.argv[1:] or [*HEADLINE, BUILD]
    unknown = [n for n in names if n != BUILD and n not in registry]
    if unknown:
        sys.exit(f"unknown query: {', '.join(unknown)}")
    queries = [n for n in names if n != BUILD]

    spark = get_spark("pangenome-bench")

    # Warm the JVM + parquet footers so per-query numbers measure the
    # plan, not first-touch overhead.
    _noop(registry["genome_ordinal"].fn(spark, sf_dir))
    # Whole-stage-codegen warmup: run each plan once against the
    # SMALLEST scale factor.  Spark caches compiled classes by
    # generated source, so this compiles every fused stage (the
    # 64-aggregate MinHash signature alone costs ~7 s of JIT) without
    # touching the measured data; the timed runs below then measure
    # data processing, not one-time compilation.
    warm_dir = _warmup_dir(sf_dir, sf)
    if warm_dir:
        for name in queries:
            try:
                _noop(registry[name].fn(spark, warm_dir))
            except Exception as e:
                # Best-effort, but a failure here usually means the
                # timed run fails too: surface it on stderr.
                print(f"WARN warmup {name} failed: {e}", file=sys.stderr)
            spark.catalog.clearCache()

    raw: dict[str, list[float]] = {}
    for name in queries:
        q = registry[name]
        raw[name] = _time_reps(spark, lambda q=q: _noop(q.fn(spark, sf_dir)), reps)

    if BUILD in names:
        # Reference-scale graph build: 770 strains x 6000 features =
        # 4.62M feature nodes, the dataset behind BASELINE.md's ~2072 s
        # Neo4j build.  That figure starts from prepared CSV files, so
        # the inputs are re-persisted before each rep's timer (the
        # previous rep's clearCache dropped them).  The eight output
        # tables are independent jobs, submitted together by
        # materialize_graph.
        from pangenomesasgraphdatabases_spark.graph.build import build_graph
        from pangenomesasgraphdatabases_spark.graph.fixtures import (
            synthetic_feature_tables,
        )
        from pangenomesasgraphdatabases_spark.graph.storage import (
            materialize_graph,
        )

        f, c, comp = synthetic_feature_tables(spark, 770, 6000)

        def _persist_inputs() -> None:
            for src in (f, c, comp):
                src.persist().count()

        def _run_build() -> None:
            g = build_graph(spark, f, c, comp, persist=True)
            materialize_graph(g, lambda df, _n: _noop(df))

        raw[BUILD] = _time_reps(
            spark, _run_build, max(reps, 5), before=_persist_inputs
        )

    medians = {n: round(statistics.median(t), 3) for n, t in raw.items()}
    mins = {n: min(t) for n, t in raw.items()}
    detail = {"reps": raw, "min": mins, "sf": sf}
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail), file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(medians.values()), 3),
                "unit": "sec",
                "queries": medians,
                "fixed_total_sec": round(
                    sum(v for n, v in medians.items() if n in FIXED_HEADLINE), 3
                ),
                "min_total_sec": round(sum(mins.values()), 3),
                "build_min_sec": mins.get(BUILD),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
