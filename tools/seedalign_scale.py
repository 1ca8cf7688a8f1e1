"""Aligner-family SF sweep: corpus size x subject length slopes
(VERDICT r13 #5).

The r12/r13 aligner scale evidence was single-point (16x corpus at
10-knt subjects; one megabase payload A/B; one gapped corpus pair).
This tool sweeps BOTH axes like the ann/linkage families and records
the slope table + birth anchors, so aligner drift is judged against
measured scaling behavior instead of a lone number:

* **corpus axis** (subject_len = 10 knt, the reference's cluster-
  representative scale): (subjects, queries) at 1x / 4x / 16x pair
  space — the k-mer inverted-index join must scale with k-mers +
  true seed hits, NEVER the pair space (the LSH-family discipline);
* **subject-length axis** (8 subjects x 32 queries): 10 knt ->
  100 knt -> 1 Mnt — k-mer extraction is O(L*w) after the r13
  chunked-binary fix, and the per-pair payload collapse bounds the
  Arrow transfer, so wall should scale ~linearly in L.

Both the ungapped and gapped paths run at every corpus point (gapped
skips the 1-Mnt length point: banded DP over megabase subjects is
O(|q|*band) per kept diagonal and measured separately in SCALE.md
r13).  Fixture recipe matches SCALE.md r12: 80-nt queries cut from
the subjects, every third carrying 2 point mutations (ungapped) or
1 interior deletion (gapped), so every planted query must be found —
the hit count is the correctness sanity per point.

Usage: python tools/seedalign_scale.py [reps]   (default 3)
Writes .scale/seedalign_scale.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_BASES = "ACGT"
_MUT = {"A": "C", "C": "G", "G": "T", "T": "A"}
QLEN = 80


def _lcg_seq(seed: int, n: int) -> str:
    x = seed
    out = []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        out.append(_BASES[(x >> 33) & 3])
    return "".join(out)


def _corpus(spark, n_subj: int, n_q: int, subj_len: int, variant: str):
    """(queries, subjects): 80-nt cuts, every third query perturbed —
    2 point mutations (variant='mut', survives ungapped X-drop) or
    1 interior deletion (variant='del', needs the gapped path)."""
    subjects = [(f"s{i}", _lcg_seq(7_000 + i, subj_len)) for i in range(n_subj)]
    queries = []
    for qi in range(n_q):
        si = qi % n_subj
        off = (137 + qi * 911) % (subj_len - QLEN)
        cut = subjects[si][1][off : off + QLEN]
        if qi % 3 == 0:
            if variant == "mut":
                c = list(cut)
                for pos in (20, 55):
                    c[pos] = _MUT[c[pos]]
                cut = "".join(c)
            else:
                cut = cut[:40] + cut[41:]  # 1 interior deletion
        queries.append((f"q{qi}", cut))
    q = spark.createDataFrame(queries, ["query_id", "sequence"])
    s = spark.createDataFrame(subjects, ["subject_id", "sequence"])
    return q.repartition(32), s.repartition(8)


def _time_point(spark, df, reps: int) -> dict:
    times = []
    for _ in range(reps):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 2))
        spark.catalog.clearCache()
    return {
        "reps": times,
        "min": min(times),
        "median": round(statistics.median(times), 2),
    }


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits,
        builtin_blast_hits_gapped,
    )
    from pangenomesasgraphdatabases_spark.session import get_spark

    spark = get_spark()
    # codegen/python-worker warmup
    wq, ws = _corpus(spark, 4, 8, 2_000, "mut")
    builtin_blast_hits(wq, ws).count()
    builtin_blast_hits_gapped(wq, ws).count()

    out: dict = {"reps": reps, "corpus_axis": [], "length_axis": []}

    # --- corpus axis: 1x / 4x / 16x pair space at 10-knt subjects ---
    for n_subj, n_q, tag in ((50, 200, "1x"), (100, 400, "4x"),
                             (200, 800, "16x")):
        row: dict = {"point": tag, "subjects": n_subj, "queries": n_q,
                     "subj_len": 10_000}
        for path, fn, variant in (
            ("ungapped", builtin_blast_hits, "mut"),
            ("gapped", builtin_blast_hits_gapped, "del"),
        ):
            q, s = _corpus(spark, n_subj, n_q, 10_000, variant)
            hits = fn(q, s)
            found = (
                hits.select("query_id").distinct().count()
            )
            assert found == n_q, (tag, path, found, n_q)
            row[path] = _time_point(spark, hits, reps)
            row[path]["queries_found"] = f"{found}/{n_q}"
        out["corpus_axis"].append(row)
        print(json.dumps(row), file=sys.stderr)

    # --- subject-length axis: 10 knt -> 100 knt -> 1 Mnt, ungapped ---
    for subj_len, tag in ((10_000, "10k"), (100_000, "100k"),
                          (1_000_000, "1M")):
        q, s = _corpus(spark, 8, 32, subj_len, "mut")
        hits = builtin_blast_hits(q, s)
        found = hits.select("query_id").distinct().count()
        assert found == 32, (tag, found)
        row = {"point": tag, "subjects": 8, "queries": 32,
               "subj_len": subj_len,
               "ungapped": _time_point(spark, hits, reps)}
        row["ungapped"]["queries_found"] = f"{found}/32"
        out["length_axis"].append(row)
        print(json.dumps(row), file=sys.stderr)

    os.makedirs(os.path.join(REPO, ".scale"), exist_ok=True)
    with open(os.path.join(REPO, ".scale", "seedalign_scale.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({
        "metric": "seedalign_scale_sweep",
        "corpus_min_ungapped": [r["ungapped"]["min"] for r in out["corpus_axis"]],
        "corpus_min_gapped": [r["gapped"]["min"] for r in out["corpus_axis"]],
        "length_min_ungapped": [r["ungapped"]["min"] for r in out["length_axis"]],
        "unit": "sec",
    }))


if __name__ == "__main__":
    main()
