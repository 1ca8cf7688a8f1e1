"""The paper's pipeline as the benchmark workloads.

Each chain calls the package's public functions in pipeline order and
wraps the calls into each module in a layer span.  Layer boundaries
are forced the same way whether the run is traced or not: the layer's
output frames are persisted and counted, so the next layer reads a
cache and its span holds none of the previous layer's work.  The one
exception is ``load_graph``: counting its parquet tables forces the
load, and the queries after it read the store, as a query-many user
does.  The counts double as the output checks: each chain returns the
checks that failed against the generator's :class:`gen.Expected`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gen import TABLES, Expected

@dataclass
class Inputs:
    genbank: str | None = None  # directory of .gbk files
    pirate: str | None = None  # PIRATE output directory
    tables: str | None = None  # node-table parquet directory


@dataclass
class Outcome:
    errors: list[str] = field(default_factory=list)
    db_bytes: int = 0  # bytes of the store the chain wrote

    def expect(self, what: str, got, want) -> None:
        if want is not None and got != want:
            self.errors.append(f"{what}: got {got}, expected {want}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _force(df: DataFrame) -> int:
    return df.persist().count()


def _force_graph(graph) -> dict[str, int]:
    """Persist and count the eight tables through the package's own
    concurrent materializer."""
    from pangenomesasgraphdatabases_spark.graph.storage import materialize_graph

    counts: dict[str, int] = {}

    def count(df: DataFrame, name: str) -> None:
        counts[name] = _force(df)

    materialize_graph(graph, count)
    return counts


def _check_tables(out: Outcome, counts: dict[str, int], exp: Expected) -> None:
    for name in TABLES:
        out.expect(f"{name} rows", counts.get(name), exp.table_rows.get(name))


def raw_pipeline(spark: SparkSession, tr, inp: Inputs, exp: Expected,
                 run_dir: str) -> Outcome:
    """GenBank -> GFF3 -> cleaned GFF, then PIRATE ETL -> graph build ->
    GC/CAI enrichment: the parser and pandas_udf half of the pipeline."""
    from pangenomesasgraphdatabases_spark.graph.build import build_graph
    from pangenomesasgraphdatabases_spark.graph.enrich import (
        composition_metrics,
        enrich_features_with_composition,
        reconstruct_full_sequences,
    )
    from pangenomesasgraphdatabases_spark.graph.etl import pirate_to_graph
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        genbank_to_gff,
        read_genbank_sequences,
    )
    from pangenomesasgraphdatabases_spark.sources.gff import clean_gff, write_gff3

    out = Outcome()
    gbk = f"{inp.genbank}/*.gbk"
    with tr.span("sources.genbank") as sp:
        feats = genbank_to_gff(spark, gbk)
        seqs = read_genbank_sequences(spark, gbk)
        sp.forcing()
        sp.rows_out = _force(feats) + _force(seqs)
    with tr.span("sources.gff") as sp:
        gff_dir = os.path.join(run_dir, "gff")
        sp.forcing()
        write_gff3(feats, gff_dir, scaffolds=seqs)
        sp.rows_out = clean_gff(spark, f"{gff_dir}/file=*/*.gff").count()
        out.expect("clean_gff rows", sp.rows_out, exp.clean_gff_rows)
    out.db_bytes = dir_bytes(gff_dir)
    with tr.span("graph.etl") as sp:
        etl = pirate_to_graph(spark, inp.pirate)
        fn = etl.feature_nodes
        cn = etl.cluster_nodes.drop("feature_ids", "gene_family")
        sp.forcing()
        sp.rows_out = _force(fn) + _force(cn)
    with tr.span("graph.build") as sp:
        graph = build_graph(spark, fn, cn, persist=True)
        sp.forcing()
        counts = _force_graph(graph)
        sp.rows_out = sum(counts.values())
        _check_tables(out, counts, exp)
    with tr.span("graph.enrich") as sp:
        comp = composition_metrics(reconstruct_full_sequences(graph))
        graph = enrich_features_with_composition(graph, comp)
        sp.forcing()
        sp.rows_out = _force(graph.features) + _force(graph.strains)
    return out


def read_tables(spark: SparkSession, tables: str):
    return tuple(
        spark.read.parquet(os.path.join(tables, f"{name}.parquet"))
        for name in ("feature_nodes", "cluster_nodes", "composition")
    )


def graph_770(spark: SparkSession, tr, inp: Inputs, exp: Expected,
              run_dir: str) -> Outcome:
    """Node tables -> build_graph(persist=True) -> save_graph, then the
    saved graph -> load_graph -> GI scan -> RGPs -> RGP analysis
    (insertion t-tests and Dice similarity): the build-once, query-many
    use, both sides of the graph store."""
    from pangenomesasgraphdatabases_spark.graph.build import build_graph
    from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan
    from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        insertion_dice_similarity,
        insertion_ttests,
    )
    from pangenomesasgraphdatabases_spark.graph.storage import load_graph, save_graph

    out = Outcome()
    with tr.span("graph.build") as sp:
        fn, cn, comp = read_tables(spark, inp.tables)
        graph = build_graph(spark, fn, cn, comp, persist=True)
        sp.forcing()
        counts = _force_graph(graph)
        sp.rows_out = sum(counts.values())
        _check_tables(out, counts, exp)
    store = os.path.join(run_dir, "graph")
    with tr.span("graph.storage.save") as sp:
        sp.forcing()
        save_graph(graph, store)
        sp.rows_out = sum(counts.values())
    out.expect("saved tables", sorted(os.listdir(store)), sorted(TABLES))
    out.db_bytes = dir_bytes(store)
    with tr.span("graph.storage.load") as sp:
        graph = load_graph(spark, store)
        sp.forcing()
        counts = {name: getattr(graph, name).count() for name in TABLES}
        sp.rows_out = sum(counts.values())
        _check_tables(out, counts, exp)
    with tr.span("graph.gi_scan") as sp:
        gi = gi_scan(graph)
        sp.forcing()
        sp.rows_out = _force(gi)
        out.expect("gi_scan rows", sp.rows_out, exp.n_features)
        if exp.island_ends is not None:
            ends = [fid for _s, fid in exp.island_ends]
            flagged = gi.filter(
                F.col("feature_id").isin(ends)
                & (F.col("gc_dev_run") == 1)
                & (F.col("cai_dev_run") == 1)
            ).count()
            out.expect("islands flagged by gi_scan", flagged, len(ends))
    with tr.span("graph.rgp") as sp:
        rgps = find_rgps(graph)
        sp.forcing()
        sp.rows_out = _force(rgps)
        out.expect("find_rgps rows", sp.rows_out, exp.rgp_rows)
    with tr.span("graph.rgp_analysis") as sp:
        tt = insertion_ttests(rgps)
        dice = insertion_dice_similarity(rgps)
        sp.forcing()
        n_tt, n_dice = _force(tt), _force(dice)
        sp.rows_out = n_tt + n_dice
        out.expect("insertion_ttests rows", n_tt, exp.rgp_rows)
        out.expect("dice pairs", n_dice, exp.dice_pairs)
    return out
