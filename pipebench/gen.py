"""Seeded input generators for the pipeline benchmark.

Two generators, both deterministic in ``seed``:

- :func:`write_raw_inputs` writes GenBank ``.gbk`` files plus the
  matching PIRATE output tree (``co-ords/``, ``PIRATE.gene_families.tsv``,
  ``representative_sequences.ffn``, ``feature_sequences/`` and
  ``modified_gffs/`` with the genome FASTA tail) for the
  ``raw_pipeline`` workload.
- :func:`write_node_tables` writes feature/cluster/composition node
  tables in the shape of ``graph.fixtures.synthetic_feature_tables`` as
  parquet, for the ``graph_*`` workloads.

Both plant the same pangenome structure: a core backbone of gene
families present in every strain, a few lonely (cluster-less)
features, and accessory islands inserted between two adjacent core
anchor families in fewer than 30% of strains, so each anchor edge
stays dominant under ``rgp.anchor_pairs``' 0.7 rule.  Every island
carries an integrase product and a tRNA, and its CDS are drawn from
GC-rich, highly adapted codons, so its GC% and CAI stand out from the
strain background.  Each generator returns the counts its plant
implies (:class:`Expected`), which the benchmark checks every run
against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from itertools import product as _product

import numpy as np

_STOPS = ("TAA", "TAG", "TGA")
_SENSE = [
    "".join(c) for c in _product("ACGT", repeat=3) if "".join(c) not in _STOPS
]
# GC-rich codons with Sharp & Li weight >= 0.72: island CDS shift both
# GC% (~70 vs ~50) and CAI (~0.9 vs ~0.2) away from the background.
_ISLAND_CODONS = [
    "CTG", "CCG", "ACC", "GGC", "CAG", "GAC", "TCC", "CGT", "GGT",
    "TGC", "CAC", "GCT",
]
_COMP = bytes.maketrans(b"ACGT", b"TGCA")
CDS_LEN = 900
TRNA_LEN = 90
SPACER = 100
TABLES = (
    "features",
    "clusters",
    "strains",
    "ortholog",
    "feature_neighbour",
    "cluster_neighbour",
    "feature_in_strain",
    "cluster_in_strain",
)


@dataclass
class Expected:
    """Counts implied by a generated input."""

    n_features: int
    table_rows: dict[str, int]
    rgp_rows: int
    # (strain, feature_id) of each planted island's last feature; the
    # GI scan must flag every one of them.  None skips a check.
    island_ends: list[tuple[str, str]] | None
    dice_pairs: int | None
    clean_gff_rows: int | None = None


@dataclass
class _Layout:
    """One strain's features in genome order."""

    strain: str
    slots: list[tuple[str | None, str, str]]  # (family, feature_type, product)


def _plan(rng: np.random.Generator, n_strains: int, n_core: int,
          n_islands: int, carrier_frac: tuple[float, float], strain_fmt: str):
    """Shared pangenome plan: backbone families, islands with their
    carriers and anchor sites, lonely slots.  Returns the per-strain
    layouts and island descriptions."""
    strains = [strain_fmt % i for i in range(1, n_strains + 1)]
    core = [f"CORE_{j:05d}" for j in range(n_core)]
    # tRNA backbone families every 29th ordinal, like the fixtures.
    core_type = ["tRNA" if j % 29 == 5 else "CDS" for j in range(n_core)]
    # Anchor sites spread along the genome, never adjacent to each
    # other nor to a lonely slot, so anchor edges stay clean.
    sites = np.sort(
        rng.choice(np.arange(2, n_core - 2, 4), size=n_islands, replace=False)
    )
    # Each strain carries at most one island, so islands stay a small
    # share of every genome and stand out from its composition stats.
    free_strains = rng.permutation(n_strains).tolist()
    islands = []
    for k, site in enumerate(sites):
        n_cds = int(rng.integers(7, 11))
        lo = max(2, int(carrier_frac[0] * n_strains))
        hi = max(lo + 1, int(carrier_frac[1] * n_strains))
        n_car = int(rng.integers(lo, hi))
        carriers = set(free_strains[:n_car])
        del free_strains[:n_car]
        fams = []
        for m in range(n_cds + 1):
            ftype = "tRNA" if m == n_cds // 2 else "CDS"
            prod = {
                1: "putative phage integrase",
                n_cds // 2: "tRNA-Met",
            }.get(m, f"island {k} protein {m}")
            fams.append((f"ISL{k:02d}_{m:02d}", ftype, prod))
        islands.append({"site": int(site), "fams": fams, "carriers": carriers})
    site_set = {i["site"] for i in islands}
    blocked = site_set | {s + 1 for s in site_set} | {s - 1 for s in site_set}
    free = np.array([j for j in range(1, n_core) if j not in blocked])
    # Lonely slots: one per strain while families last, at most one
    # strain per family, never at an anchor, so anchor families stay in
    # every strain.
    lonely_fams = rng.choice(free, size=min(len(free), n_strains), replace=False)
    lonely = {(idx % n_strains, int(j)) for idx, j in enumerate(lonely_fams)}

    layouts = []
    for si, strain in enumerate(strains):
        slots = []
        for j in range(n_core):
            fam = None if (si, j) in lonely else core[j]
            ftype = core_type[j]
            prod = "tRNA-Ala" if ftype == "tRNA" else (
                "hypothetical protein" if j % 3 else f"enzyme {j}"
            )
            slots.append((fam, ftype, prod))
            for it in islands:
                if it["site"] == j and si in it["carriers"]:
                    slots.extend(it["fams"])
        layouts.append(_Layout(strain, slots))
    return strains, islands, layouts


def table_rows(features, family_of) -> dict[str, int]:
    """Row counts of the eight graph tables that build_graph makes from
    ``features`` — (strain, start, feature_id) tuples — and
    ``family_of``, feature_id -> gene family for clustered features.
    Lonely features become their own singleton cluster."""
    by_strain: dict[str, list[tuple[int, str]]] = {}
    for strain, start, fid in features:
        by_strain.setdefault(strain, []).append((start, fid))
    n = len(features)
    clusters = set(family_of.values())
    pairs, cis = set(), set()
    for strain, feats in by_strain.items():
        prev = None
        for _start, fid in sorted(feats):
            cid = family_of.get(fid, fid)
            clusters.add(cid)
            cis.add((cid, strain))
            if prev is not None:
                pairs.add((prev, cid))
            prev = cid
    return {
        "features": n,
        "clusters": len(clusters),
        "strains": len(by_strain),
        "ortholog": n,
        "feature_neighbour": n - len(by_strain),
        "cluster_neighbour": len(pairs),
        "feature_in_strain": n,
        "cluster_in_strain": len(cis),
    }


def _expected(islands, layouts, fid_of) -> Expected:
    """Counts the planted layout implies for the eight graph tables and
    the analysis outputs."""
    last_fams = {it["fams"][-1][0] for it in islands}
    features, family_of, island_ends = [], {}, []
    for si, lay in enumerate(layouts):
        for pos, (fam, _t, _p) in enumerate(lay.slots):
            fid = fid_of(si, pos)
            features.append((lay.strain, pos, fid))
            if fam is not None:
                family_of[fid] = fam
            if fam in last_fams:
                island_ends.append((lay.strain, fid))
    carriers = [len(it["carriers"]) for it in islands]
    return Expected(
        n_features=len(features),
        table_rows=table_rows(features, family_of),
        rgp_rows=sum(carriers),
        island_ends=island_ends,
        dice_pairs=sum(c * (c - 1) // 2 for c in carriers),
    )


# --- raw GenBank + PIRATE tree ---------------------------------------------


def _codon_seqs(rng, n: int, n_codons: int, pool: list[str]) -> np.ndarray:
    """n CDS as a (n, 3*n_codons) uint8 array: ATG + pool codons + TAA."""
    table = np.frombuffer("".join(pool).encode(), np.uint8).reshape(-1, 3)
    body = table[rng.integers(0, len(pool), size=(n, n_codons - 2))]
    start = np.frombuffer(b"ATG", np.uint8)
    stop = np.frombuffer(b"TAA", np.uint8)
    out = np.empty((n, n_codons, 3), np.uint8)
    out[:, 0] = start
    out[:, 1:-1] = body
    out[:, -1] = stop
    return out.reshape(n, n_codons * 3)


def _mutate(rng, seq: np.ndarray, rate: float) -> np.ndarray:
    """Point substitutions inside the CDS body (first and last codon
    kept), rejecting any that would create a stop codon, so the member
    still passes clean_gff's premature-stop check."""
    s = seq.copy()
    body = np.arange(3, len(s) - 3)
    n_mut = rng.binomial(len(body), rate)
    for p in rng.choice(body, size=n_mut, replace=False):
        new = b"ACGT"[rng.integers(0, 4)]
        if new == s[p]:
            continue
        c0 = p - p % 3
        codon = bytearray(s[c0:c0 + 3].tobytes())
        codon[p % 3] = new
        if bytes(codon).decode() in _STOPS:
            continue
        s[p] = new
    return s


def _wrap(seq: str, width: int) -> str:
    return "\n".join(seq[i:i + width] for i in range(0, len(seq), width))


def _genbank_origin(seq: str) -> str:
    lines = []
    low = seq.lower()
    for i in range(0, len(low), 60):
        chunk = low[i:i + 60]
        groups = " ".join(chunk[j:j + 10] for j in range(0, len(chunk), 10))
        lines.append(f"{i + 1:>9} {groups}")
    return "\n".join(lines)


def write_raw_inputs(out_dir: str, seed: int, n_strains: int = 12,
                     n_core: int = 100, n_islands: int = 3,
                     mutation_rate: float = 0.01) -> Expected:
    """GenBank files under ``<out_dir>/genbank`` and a PIRATE tree
    under ``<out_dir>/pirate``; returns the planted counts."""
    rng = np.random.default_rng(seed)
    strains, islands, layouts = _plan(
        rng, n_strains, n_core, n_islands, (0.10, 0.25), "G%03d"
    )
    fid_of = lambda si, pos: f"{strains[si]}_{pos:05d}"  # noqa: E731

    # Family representatives; members mutate from them.
    fam_type, fam_prod, fam_seq = {}, {}, {}
    for lay in layouts:
        for fam, ftype, prod in lay.slots:
            if fam is not None and fam not in fam_type:
                fam_type[fam], fam_prod[fam] = ftype, prod
    names = sorted(fam_type)
    island_fam = [f.startswith("ISL") for f in names]
    bg = _codon_seqs(rng, len(names), CDS_LEN // 3, _SENSE)
    isl = _codon_seqs(rng, len(names), CDS_LEN // 3, _ISLAND_CODONS)
    for i, fam in enumerate(names):
        rep = isl[i] if island_fam[i] else bg[i]
        fam_seq[fam] = rep[:TRNA_LEN] if fam_type[fam] == "tRNA" else rep

    gb_dir = os.path.join(out_dir, "genbank")
    pir = os.path.join(out_dir, "pirate")
    for d in ("co-ords", "feature_sequences", "modified_gffs"):
        os.makedirs(os.path.join(pir, d), exist_ok=True)
    os.makedirs(gb_dir, exist_ok=True)

    members: dict[str, list[tuple[str, str]]] = {f: [] for f in names}
    n_clean = 0
    for si, lay in enumerate(layouts):
        strain = lay.strain
        genome, coords, gb_feats = [], [], []
        cursor = 1
        for pos, (fam, ftype, prod) in enumerate(lay.slots):
            fid = fid_of(si, pos)
            if fam is None:
                cds = _codon_seqs(rng, 1, CDS_LEN // 3, _SENSE)[0]
                if ftype == "tRNA":
                    cds = cds[:TRNA_LEN]
            elif ftype == "tRNA":
                cds = fam_seq[fam]
            else:
                cds = _mutate(rng, fam_seq[fam], mutation_rate)
            seq = cds.tobytes().decode()
            if fam is not None:
                members[fam].append((fid, seq))
            strand = "-" if rng.random() < 0.5 else "+"
            spacer = rng.integers(0, 4, size=SPACER)
            genome.append(np.frombuffer(b"ACGT", np.uint8)[spacer].tobytes().decode())
            cursor += SPACER
            start, end = cursor, cursor + len(seq) - 1
            genome.append(
                seq.encode().translate(_COMP)[::-1].decode() if strand == "-" else seq
            )
            cursor = end + 1
            loc = f"complement({start}..{end})" if strand == "-" else f"{start}..{end}"
            gb_feats.append(
                f"     {ftype:<16}{loc}\n"
                f"                     /locus_tag=\"{fid}\"\n"
                f"                     /product=\"{prod}\""
            )
            coords.append(
                f"{fid}\tgene\t{start}\t{end}\t{len(seq)}\t{ftype}"
                f"\t{'-1' if strand == '-' else '1'}\t{prod}"
            )
            n_clean += 1
        genome.append("ACGT" * (SPACER // 4))
        dna = "".join(genome)
        seqid = f"{strain}_chr"
        with open(os.path.join(gb_dir, f"{strain}.gbk"), "w") as fh:
            fh.write(
                f"LOCUS       {seqid} {len(dna)} bp    DNA     linear   BCT 01-JAN-2024\n"
                f"DEFINITION  synthetic strain {strain}.\n"
                f"ACCESSION   {seqid}\nVERSION     {seqid}.1\n"
                "SOURCE      synthetic\n  ORGANISM  synthetic\n"
                "FEATURES             Location/Qualifiers\n"
                f"     source          1..{len(dna)}\n"
                "                     /organism=\"synthetic\"\n"
                + "\n".join(gb_feats)
                + "\nORIGIN\n" + _genbank_origin(dna) + "\n//\n"
            )
        with open(os.path.join(pir, "co-ords", f"{strain}.tsv"), "w") as fh:
            fh.write("Name\tGene\tStart\tEnd\tLength\tType\tStrand\tProduct\n")
            fh.write("\n".join(coords) + "\n")
        with open(os.path.join(pir, "modified_gffs", f"{strain}.gff"), "w") as fh:
            fh.write("##gff-version 3\n")
            fh.write(f"{seqid}\tsynthetic\tregion\t1\t{len(dna)}\t.\t+\t.\tID={seqid}\n")
            fh.write(f"##FASTA\n>{seqid}\n{_wrap(dna, 80)}\n")

    with open(os.path.join(pir, "PIRATE.gene_families.tsv"), "w") as fh:
        fh.write("\t".join(
            ["allele_name", "gene_family", "consensus_product", "threshold",
             "number_genomes", "average_length"] + strains
        ) + "\n")
        for fam in names:
            per = {fid.rsplit("_", 1)[0]: fid for fid, _ in members[fam]}
            length = len(fam_seq[fam])
            fh.write("\t".join(
                [fam, fam, f"consensus {fam_prod[fam]}", "50",
                 str(len(per)), f"{float(length)}"]
                + [per.get(s, "") for s in strains]
            ) + "\n")
    with open(os.path.join(pir, "representative_sequences.ffn"), "w") as fh:
        for fam in names:
            ref_fid, ref_seq = members[fam][0]
            fh.write(f">{fam};len={len(ref_seq)};locus_tag={ref_fid}\n{ref_seq}\n")
    for fam in names:
        path = os.path.join(pir, "feature_sequences", f"{fam}.nucleotide.fasta")
        with open(path, "w") as fh:
            fh.write("".join(f">{fid}\n{seq}\n" for fid, seq in members[fam]))

    exp = _expected(islands, layouts, fid_of)
    exp.clean_gff_rows = n_clean
    return exp


# --- 770-strain node tables --------------------------------------------------


def write_node_tables(out_dir: str, seed: int, n_strains: int = 770,
                      n_core: int = 40, n_islands: int = 4) -> Expected:
    """feature_nodes / cluster_nodes / composition parquet files under
    ``out_dir`` in the ``synthetic_feature_tables`` shape, with planted
    islands whose composition (GC%, CAI) deviates from the backbone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    strains, islands, layouts = _plan(
        rng, n_strains, n_core, n_islands, (0.02, 0.05), "T%04d"
    )
    fid_of = lambda si, pos: f"{strains[si]}_{pos:05d}"  # noqa: E731

    names, starts, strain_col, ftypes, prods, fulls = [], [], [], [], [], []
    is_island = []
    members: dict[str, list[str]] = {}
    for si, lay in enumerate(layouts):
        for pos, (fam, ftype, prod) in enumerate(lay.slots):
            fid = fid_of(si, pos)
            names.append(fid)
            starts.append(pos * 1000 + 1)
            strain_col.append(lay.strain)
            ftypes.append(ftype)
            prods.append(prod)
            fulls.append("ACGTACGTACGT" if fam is None else "")
            is_island.append(fam is not None and fam.startswith("ISL"))
            if fam is not None:
                members.setdefault(fam, []).append(fid)
    n = len(names)
    start = np.asarray(starts, np.int64)
    island = np.asarray(is_island)
    gc = np.where(island, rng.normal(72.0, 1.5, n), rng.normal(50.0, 1.5, n))
    cai = np.where(island, rng.normal(0.9, 0.02, n), rng.normal(0.5, 0.03, n))
    feature_nodes = pa.table({
        "Name": names,
        "Start": start,
        "End": start + 899,
        "Length": np.full(n, 900, np.int64),
        "Strand": np.where(rng.random(n) < 0.5, "1", "-1"),
        "Product": prods,
        "Strain": strain_col,
        "FeatureType": ftypes,
        "Variation": [""] * n,
        "FullSequences": fulls,
    })
    fams = sorted(members)
    cluster_nodes = pa.table({
        "allele_name": fams,
        "consensus_product": [f"consensus {f}" for f in fams],
        "threshold": [50] * len(fams),
        "number_genomes": [len(members[f]) for f in fams],
        "min_length": [900] * len(fams),
        "max_length": [900] * len(fams),
        "average_length": [900.0] * len(fams),
        "feature": [";".join(members[f]) for f in fams],
        "reference_locus": [members[f][0] for f in fams],
        "Seq": ["ACGTACGTACGT"] * len(fams),
    })
    composition = pa.table({"featureID": names, "GC": gc, "CAI": cai})
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in (("feature_nodes", feature_nodes),
                      ("cluster_nodes", cluster_nodes),
                      ("composition", composition)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return _expected(islands, layouts, fid_of)


# --- committed fixtures (smoke mode) -------------------------------------------


def fixture_expected_raw(pirate_dir: str) -> Expected:
    """Counts for the chains on fixtures_data/pirate_raw: the table rows
    follow from its co-ords and gene families; its one planted
    insertion, carried by two strains, gives two RGP rows and one Dice
    pair."""
    import glob

    import pandas as pd

    from pangenomesasgraphdatabases_spark.graph import fixtures as fx

    features = []
    for path in sorted(glob.glob(os.path.join(pirate_dir, "co-ords", "*.tsv"))):
        strain = os.path.basename(path).rsplit(".", 1)[0]
        co = pd.read_csv(path, sep="\t")
        features += [(strain, int(s), n) for s, n in zip(co.Start, co.Name)]
    gf = pd.read_csv(
        os.path.join(pirate_dir, "PIRATE.gene_families.tsv"), sep="\t", dtype=str
    ).fillna("")
    family_of = {
        fid: fam
        for fam, row in zip(gf.allele_name, gf.iloc[:, 6:].itertuples(index=False))
        for fid in row if fid
    }
    carriers = len(fx.INSERTION_STRAINS)
    return Expected(
        n_features=len(features),
        table_rows=table_rows(features, family_of),
        rgp_rows=carriers,
        island_ends=None,
        dice_pairs=carriers * (carriers - 1) // 2,
    )
