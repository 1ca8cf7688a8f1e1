"""GI scan over the committed fixture tables, every column collected."""

from __future__ import annotations

import os

from pangenomesasgraphdatabases_spark.graph.build import build_graph
from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan

FIX = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures_data")
ZERO_CAI_VARIANCE = {f"S0{i}" for i in range(3, 9)}


def test_gi_scan_zero_variance_strains(spark):
    g = build_graph(
        spark,
        spark.read.parquet(f"{FIX}/feature_nodes.parquet"),
        spark.read.parquet(f"{FIX}/cluster_nodes.parquet"),
        spark.read.parquet(f"{FIX}/composition.parquet"),
    )
    zero = {r.name for r in g.strains.collect() if r.stDev_CAI == 0.0}
    assert zero == ZERO_CAI_VARIANCE

    rows = gi_scan(g).collect()
    assert len(rows) == 332
    for r in rows:
        if r.strain in ZERO_CAI_VARIANCE:
            # 0/0: no z, no deviation, no smoothed mean.
            assert r.z_CAI is None
            assert r.roll_mean_z_CAI is None
            assert r.cai_dev_run == 0
        else:
            assert r.z_CAI is not None
        assert r.z_GC is not None
        # The smoothed mean exists exactly once a strain has 10 z values.
        assert (r.roll_mean_z_GC is not None) == (r.pos >= 10)
        assert r.gc_dev_run in (0, 1) and r.accessory_run in (0, 1)
