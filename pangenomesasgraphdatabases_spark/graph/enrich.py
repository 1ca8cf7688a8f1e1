"""Graph enrichment flows — the Spark re-expression of
extendingDB_FeatureAndStrainMetrics.py and extendingDB_performingBlast.py.

Reference shape: pull features over Bolt, reconstruct each CDS's full
sequence from (variation, cluster reference_sequence) via
variationToFullSequence (F7), compute GC (F8) and CAI (F9), write a
CSV, LOAD CSV ... MERGE back per-row (254 s), then per-strain
aggregates (A1).  Here: one join + pandas_udf decode + column-math GC
+ CAI udf + left-join writeback — no OLTP round-trip.

BLAST (S11/S14): the blastn subprocess is an external-tool boundary;
`blast_hits_from_xml` parses its outfmt-5 XML into a hits table
(runnable on pre-computed XML without the binary), and
`enrich_clusters_with_blast` is the A14 grouped-collect writeback join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.functions.sequence import (
    cai,
    delta_decode,
    gc_content,
)
from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph, strain_nodes


def reconstruct_full_sequences(graph: PangenomeGraph, feature_type: str = "CDS") -> DataFrame:
    """F7 decode path: every <feature_type> feature's full sequence =
    decode(variation, cluster.reference_sequence), gaps stripped
    (extendingDB_FeatureAndStrainMetrics.py:21-29 + the Cypher pull at
    :36-40)."""
    feats = graph.features.filter(F.col("feature_type") == feature_type).select(
        "feature_id", "strain", "variation"
    )
    refs = graph.clusters.select("cluster_id", "reference_sequence")
    j = (
        feats.join(graph.ortholog, "feature_id")
        .join(refs, "cluster_id")
    )
    return j.select(
        "feature_id",
        "strain",
        delta_decode("variation", "reference_sequence").alias("full_seq"),
    )


def composition_metrics(sequences: DataFrame) -> DataFrame:
    """F8 + F9: GC% (pure column math, no UDF) and CAI (pandas_udf) per
    feature — the featuresCompositionDataframe table
    (extendingDB_FeatureAndStrainMetrics.py:41-76)."""
    return sequences.select(
        F.col("feature_id").alias("featureID"),
        gc_content("full_seq").alias("GC"),
        cai("full_seq").alias("CAI"),
    )


def enrich_features_with_composition(graph: PangenomeGraph, comp: DataFrame) -> PangenomeGraph:
    """The 02_addNucleotideCompositionMetrics.cypher MERGE (254 s of
    row-at-a-time writes) as a left join + per-strain re-aggregation."""
    import dataclasses

    feats = (
        graph.features.drop("GC", "CAI")
        .join(
            comp.select(
                F.col("featureID").alias("feature_id"),
                F.col("GC").alias("GC"),
                F.col("CAI").alias("CAI"),
            ),
            "feature_id",
            "left",
        )
    )
    return dataclasses.replace(graph, features=feats, strains=strain_nodes(feats))


# --- BLAST enrichment (S11 / S14 / A14) ------------------------------------

BLAST_HIT_COLUMNS = ("cluster_id", "title", "score", "evalue", "num_alignments")


def run_blastn(
    sequences: DataFrame,
    blast_bin: str | None,
    db: str,
    evalue: float = 1e-5,
    extra_args: tuple[str, ...] = (),
) -> DataFrame:
    """S11 execution path: invoke the blastn binary partition-wise and
    return (cluster_id, xml) — the input surface of
    :func:`blast_hits_from_xml`.

    The reference runs one ``blastn`` subprocess per cluster query and
    walks the result DOM (extendingDB_performingBlast.py:63-105); here
    the same one-process-per-query loop runs inside ``mapInPandas``,
    so a 1000-executor cluster fans the queries out while each
    subprocess call stays identical to the reference's.  Input:
    (cluster_id STRING, sequence STRING).

    ``blast_bin`` is an explicit boundary: None raises immediately
    (this container ships no BLAST binary — the XML-parse path over
    pre-computed output stays the tested default), and a named binary
    is existence-checked on the driver before any job launches."""
    if not blast_bin:
        raise NotImplementedError(
            "blastn execution requires blast_bin=<path>; no binary is "
            "bundled — parse pre-computed XML with blast_hits_from_xml "
            "instead"
        )
    import os
    import shutil

    if shutil.which(blast_bin) is None and not os.path.isfile(blast_bin):
        raise FileNotFoundError(f"blastn binary not found: {blast_bin!r}")

    import subprocess
    from collections.abc import Iterable, Iterator

    import pandas as pd

    argv = [blast_bin, "-db", db, "-outfmt", "5", "-evalue", str(evalue)]
    argv += list(extra_args)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            xmls = []
            for cid, seq in zip(pdf["cluster_id"], pdf["sequence"]):
                proc = subprocess.run(
                    argv,
                    input=f">{cid}\n{seq}\n",
                    capture_output=True,
                    text=True,
                )
                if proc.returncode != 0:
                    raise RuntimeError(
                        f"blastn failed for {cid}: {proc.stderr.strip()}"
                    )
                xmls.append(proc.stdout)
            yield pd.DataFrame({"cluster_id": pdf["cluster_id"], "xml": xmls})

    return sequences.select("cluster_id", "sequence").mapInPandas(
        run, "cluster_id string, xml string"
    )


def blast_hits_from_xml(xml_df: DataFrame) -> DataFrame:
    """S11: parse blastn outfmt-5 XML documents (one per cluster query)
    into a hits table via JVM-side regexp extraction.

    Input: (cluster_id STRING, xml STRING).  The reference invokes the
    blastn subprocess then walks the DOM (extendingDB_performingBlast
    .py:63-105); the subprocess is the external boundary — this parser
    consumes its output wherever it was produced.
    """
    hits = xml_df.select(
        "cluster_id",
        F.explode(
            F.expr(r"regexp_extract_all(xml, '(?s)<Hit>(.*?)</Hit>', 1)")
        ).alias("hit"),
    )
    return hits.select(
        "cluster_id",
        F.regexp_extract("hit", r"<Hit_def>(.*?)</Hit_def>", 1).alias("title"),
        F.regexp_extract("hit", r"<Hsp_bit-score>([\d.]+)</Hsp_bit-score>", 1)
        .cast("double")
        .alias("score"),
        F.regexp_extract("hit", r"<Hsp_evalue>([\d.eE+-]+)</Hsp_evalue>", 1)
        .cast("double")
        .alias("evalue"),
    )


def enrich_clusters_with_blast(clusters: DataFrame, hits: DataFrame) -> DataFrame:
    """A14/S14: grouped collect of hit titles/scores per cluster,
    left-joined onto CLUSTER with hasBlastVirusHit flag — replacing the
    per-cluster MATCH..SET write loop (extendingDB_performingBlast.py:
    107-142).  Lists sorted by (title, score) for determinism."""
    agg = hits.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("title", "score"))
            ),
            lambda s: s.title,
        ).alias("blastTitlesVirus"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("title", "score"))
            ),
            lambda s: s.score,
        ).alias("blastScoresVirus"),
    )
    return clusters.join(agg, "cluster_id", "left").withColumn(
        "hasBlastVirusHit", F.col("blastTitlesVirus").isNotNull()
    )
