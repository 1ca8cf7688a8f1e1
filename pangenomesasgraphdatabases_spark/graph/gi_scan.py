"""Genomic-island scan (03_analyses/GIsInStrain.ipynb cells 3-8+).

Reference flow: per strain, order features along the genome
(shortestPath trick — here a sort, J14/W2), z-score GC/CAI against the
strain's precomputed stats (W6), flag |z| >= 1.5 deviations (P8), then
trailing rolling windows: rolling(10).mean smoothing (W3),
rolling(20) deviation-count > 5 (W4), rolling(5) max(number_genomes)
<= accessory threshold (W5).

The reference collects the whole strain into pandas first; this stays
distributed — the window partitions by strain so a 770-strain (or
770k-strain) dataset scans in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph


def gi_scan(
    graph: PangenomeGraph,
    z_thresh: float = 1.5,
    smooth_window: int = 10,
    dev_window: int = 20,
    dev_count: int = 5,
    core_window: int = 5,
    core_max: int = 600,
) -> DataFrame:
    """Per-feature GI flags.  Returns one row per feature with genome
    ordinal, z-scores, rolling means, and the two run flags."""
    feats = graph.features.select(
        "feature_id", "strain", "feature_start", "feature_type", "GC", "CAI"
    )
    nm = graph.ortholog.join(
        graph.clusters.select("cluster_id", "number_genomes"), "cluster_id"
    ).select("feature_id", "number_genomes")
    stats = graph.strains.select(
        F.col("name").alias("strain"), "avg_GC", "stDev_GC", "avg_CAI", "stDev_CAI"
    )

    df = feats.join(nm, "feature_id", "left").join(F.broadcast(stats), "strain")
    # pandas parity for a zero-variance strain: z = 0/0 is NaN there,
    # null here (a plain divide raises under ANSI mode), and a null z
    # is no deviation (NaN >= 1.5 is False).
    z_gc = F.try_divide(F.col("GC") - F.col("avg_GC"), F.col("stDev_GC"))
    z_cai = F.try_divide(F.col("CAI") - F.col("avg_CAI"), F.col("stDev_CAI"))
    df = (
        df.withColumn("z_GC", z_gc)
        .withColumn("z_CAI", z_cai)
        .withColumn("dev_GC", F.when(F.abs(F.col("z_GC")) >= z_thresh, 1).otherwise(0))
        .withColumn("dev_CAI", F.when(F.abs(F.col("z_CAI")) >= z_thresh, 1).otherwise(0))
    )

    w = Window.partitionBy("strain").orderBy("feature_start", "feature_id")
    smooth = w.rowsBetween(-(smooth_window - 1), 0)
    dev = w.rowsBetween(-(dev_window - 1), 0)
    core = w.rowsBetween(-(core_window - 1), 0)

    return df.select(
        "feature_id",
        "strain",
        "feature_start",
        F.row_number().over(w).alias("pos"),
        "z_GC",
        "z_CAI",
        # pandas rolling(n) parity: null until the frame holds n
        # non-null values.
        F.when(
            F.count("z_GC").over(smooth) == smooth_window,
            F.avg("z_GC").over(smooth),
        ).alias("roll_mean_z_GC"),
        F.when(
            F.count("z_CAI").over(smooth) == smooth_window,
            F.avg("z_CAI").over(smooth),
        ).alias("roll_mean_z_CAI"),
        (F.sum("dev_GC").over(dev) > dev_count).cast("int").alias("gc_dev_run"),
        (F.sum("dev_CAI").over(dev) > dev_count).cast("int").alias("cai_dev_run"),
        (F.max("number_genomes").over(core) <= core_max).cast("int").alias("accessory_run"),
    )
