"""Pipeline benchmark: the paper's chain end to end on one local[nproc]
Spark session, as a closed loop with one client.

    python3 pipebench/run.py --workload raw_pipeline --seed 1 --seconds 1 --trace 0
    python3 pipebench/run.py --smoke

Run from the repository root.  Set-up (session start and seeded input
generation) is timed as ``setup_s``.  Then the workload's chain runs,
and runs again after each run ends until ``--seconds`` have passed;
the first run is always made, in the fresh session, as a batch user of
the pipeline meets it.  Every run checks its outputs against the
counts the generator planted.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` starts the
session with the Spark event log on, records a span around each layer
call and prints the per-layer metrics of the first (cold) run, plus
the tracing overhead: that run's wall time minus the untraced e2e_s of
the same workload (see ``untraced_e2e``).
``--smoke`` runs each chain once on the committed fixtures.  The last
stdout line is the JSON result; the line before it records the host
sizing and the raw samples.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "pangenomesasgraphdatabases_spark"
OUT = ROOT / ".bench_out"  # spans, layer records, untraced e2e_s per seed
SETUP_REPS = 3  # input generation repeats; setup_s takes their median

LAYERS = (
    "sources.genbank",
    "sources.gff",
    "graph.etl",
    "graph.build",
    "graph.storage.save",
    "graph.storage.load",
    "graph.enrich",
    "graph.gi_scan",
    "graph.rgp",
    "graph.rgp_analysis",
)
LAYER_METRICS = (
    "wall_s", "plan_s", "tasks", "executor_cpu_s", "core_util", "gc_s",
    "shuffle_write_mb", "spill_mb", "rows_out", "failed_tasks",
)
PYTHON_LAYERS = ("sources.genbank", "sources.gff", "graph.etl", "graph.enrich")
WASTE_LAYERS = ("graph.build", "graph.gi_scan", "graph.rgp", "graph.rgp_analysis")


def per_layer_names() -> list[str]:
    names = [f"{la}.{m}" for la in LAYERS for m in LAYER_METRICS]
    names += [f"{la}.{m}" for la in PYTHON_LAYERS for m in ("python_s", "python_mb")]
    names += [f"{la}.rows_examined_per_out" for la in WASTE_LAYERS]
    return names + ["trace.overhead_s", "trace.gap_s"]


def _unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric in ("core_util", "rows_examined_per_out"):
        return "ratio"
    return "count"


def _prepare(workload: str, d: Path, seed: int):
    """Generate a workload's inputs under ``d``: (Inputs, Expected)."""
    import chains
    import gen

    if workload == "raw_pipeline":
        exp = gen.write_raw_inputs(str(d), seed)
        return chains.Inputs(genbank=str(d / "genbank"), pirate=str(d / "pirate")), exp
    exp = gen.write_node_tables(str(d / "tables"), seed)
    return chains.Inputs(tables=str(d / "tables")), exp


# --- session -----------------------------------------------------------------


def start_session():
    from pangenomesasgraphdatabases_spark.session import get_spark

    return get_spark("pipebench")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


# --- measurement --------------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seed: int, work: Path, hw: dict):
        import chains

        self.workload, self.seed, self.work, self.hw = workload, seed, work, hw
        self.chain = getattr(chains, workload)
        self.inputs = self.exp = None
        self.setup = {}

    def prepare(self) -> None:
        """Generate the inputs SETUP_REPS times (same seed, fresh
        directories) and keep the first copy."""
        times = []
        for rep in range(SETUP_REPS):
            d = self.work / f"input-{rep}"
            t0 = time.perf_counter()
            inputs, exp = _prepare(self.workload, d, self.seed)
            times.append(time.perf_counter() - t0)
            if rep == 0:
                self.inputs, self.exp = inputs, exp
            else:
                shutil.rmtree(d)
        self.setup["prepare_s"] = times

    def measure(self, spark, tracer, seconds: float, tag: str) -> list[dict]:
        """Closed loop: run the chain until `seconds` have passed."""
        runs = []
        t_end = time.perf_counter() + seconds
        while not runs or time.perf_counter() < t_end:
            runs.append(self.run_once(spark, tracer, f"{tag}{len(runs)}"))
        return runs

    def run_once(self, spark, tracer, run_id: str) -> dict:
        import procs

        tree = procs.ProcessTree()
        run_dir = self.work / f"run-{run_id}"
        tracer.run_id = run_id
        cpu0 = tree.start()
        t0 = time.perf_counter()
        try:
            with tracer.span("run"):
                out = self.chain(spark, tracer, self.inputs, self.exp, str(run_dir))
            errors, db = out.errors, out.db_bytes
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            errors, db = ["raised"], 0
        wall = time.perf_counter() - t0
        cpu1, peak = tree.stop()
        for e in errors:
            print(f"[{self.workload} run {run_id}] check failed: {e}", file=sys.stderr)
        spark.catalog.clearCache()
        shutil.rmtree(run_dir, ignore_errors=True)
        return {
            "run": run_id, "e2e_s": wall, "cpu_s": cpu1 - cpu0,
            "peak_rss_gb": peak / 1e9, "db_bytes": db, "ok": not errors,
        }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(bench: Bench, runs: list[dict]) -> dict:
    """Medians over the measured runs; set-up is the session start plus
    the median input generation."""
    e2e = _median([r["e2e_s"] for r in runs])
    setup_s = bench.setup["session_s"] + _median(bench.setup["prepare_s"])
    vals = {
        "setup_s": (setup_s, "s"),
        "e2e_s": (e2e, "s"),
        "features_per_s": (bench.exp.n_features / e2e, "features/s"),
        "cpu_s": (_median([r["cpu_s"] for r in runs]), "CPU-s"),
        "peak_rss_gb": (_median([r["peak_rss_gb"] for r in runs]), "GB"),
        "db_size_mb": (_median([r["db_bytes"] for r in runs]) / 1e6, "MB"),
        "ok_frac": (sum(r["ok"] for r in runs) / len(runs), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def untraced_e2e(args) -> float:
    """Cold untraced e2e_s to set the traced run against: the one an
    untraced invocation recorded for this seed in this checkout, else
    the median of those recorded for other seeds, else a fresh untraced
    invocation in a child process."""
    import subprocess

    path = OUT / f"{args.workload}-seed{args.seed}-e2e.json"
    if not path.exists():
        recorded = [json.loads(p.read_text())["e2e_s"]
                    for p in OUT.glob(f"{args.workload}-seed*-e2e.json")]
        if recorded:
            return _median(recorded)
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=600)
    return json.loads(path.read_text())["e2e_s"]


def per_layer(bench: Bench, tracer, event_dir: Path, overhead_s: float) -> dict:
    """Layer metrics of the traced run; its spans and layer records are
    written under OUT."""
    import tracing

    (log,) = [p for p in event_dir.iterdir() if p.is_file()]
    jobs, totals = tracing.parse_event_log(str(log))
    records = tracing.layer_records(tracer.spans, jobs, totals, bench.hw["cores"])
    by_layer = {rec["layer"]: rec for rec in records}
    values = {}
    for name in per_layer_names()[:-2]:
        layer, metric = name.rsplit(".", 1)
        values[name] = by_layer.get(layer, {}).get(metric, 0)
    (root,) = [sp for sp in tracer.spans if sp.parent is None]
    values["trace.gap_s"] = (root.end - root.start) - sum(r["wall_s"] for r in records)
    values["trace.overhead_s"] = overhead_s
    stem = OUT / f"{bench.workload}-seed{bench.seed}"
    tracer.write(f"{stem}-spans.jsonl")
    with open(f"{stem}-layers.jsonl", "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec) + "\n")
    return {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}


def run_workload(args, hw: dict) -> dict:
    import procs
    import tracing

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    work.mkdir(parents=True)
    bench = Bench(args.workload, args.seed, work, hw)
    event_dir = work / "eventlog" if args.trace else None
    try:
        reference = untraced_e2e(args) if args.trace else None
        bench.prepare()
        procs.configure(ROOT, work, hw, event_dir)
        t0 = time.perf_counter()
        spark = start_session()
        bench.setup["session_s"] = time.perf_counter() - t0
        tracer = tracing.Tracer(bool(args.trace))
        try:
            runs = bench.measure(spark, tracer, args.seconds, "t" if args.trace else "u")
        finally:
            stop_session(spark)
        if args.trace:
            # the first run is the cold one the untraced e2e_s times
            tracer.spans = [sp for sp in tracer.spans if sp.run == "t0"]
            metrics = per_layer(bench, tracer, event_dir, runs[0]["e2e_s"] - reference)
        else:
            metrics = end_to_end(bench, runs)
            path = OUT / f"{args.workload}-seed{args.seed}-e2e.json"
            path.write_text(json.dumps({"e2e_s": metrics["e2e_s"]["value"]}))
        info = {
            "workload": args.workload, "seed": args.seed, **hw,
            "input_features": bench.exp.n_features,
            "setup": bench.setup,
            "runs": runs,
            "failed_frac": sum(not r["ok"] for r in runs) / len(runs),
        }
        print(json.dumps({"info": info}))
        return {
            "correct": all(r["ok"] for r in runs),
            "attempted": len(runs),
            "failed": sum(not r["ok"] for r in runs),
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _fixture_tables(spark, pirate_dir: str, out_dir: Path) -> None:
    """Node tables from the committed PIRATE fixture, as the reference
    hands them on: the ETL's feature and cluster nodes plus the GC/CAI
    composition of the graph they build."""
    from pangenomesasgraphdatabases_spark.graph.build import build_graph
    from pangenomesasgraphdatabases_spark.graph.enrich import (
        composition_metrics,
        reconstruct_full_sequences,
    )
    from pangenomesasgraphdatabases_spark.graph.etl import pirate_to_graph

    etl = pirate_to_graph(spark, pirate_dir)
    fn = etl.feature_nodes
    cn = etl.cluster_nodes.drop("feature_ids", "gene_family")
    comp = composition_metrics(reconstruct_full_sequences(build_graph(spark, fn, cn)))
    for name, df in (("feature_nodes", fn), ("cluster_nodes", cn), ("composition", comp)):
        df.write.parquet(str(out_dir / f"{name}.parquet"))


def run_smoke(hw: dict) -> dict:
    """Each chain once on the committed fixtures: the raw chain on
    fixtures_data/genbank and fixtures_data/pirate_raw, the graph chains
    on the node tables the ETL makes from that PIRATE fixture."""
    import chains
    import gen
    import procs
    import tracing

    fx = ROOT / "fixtures_data"
    pirate = str(fx / "pirate_raw")
    work = ROOT / ".bench_work" / f"smoke-{time.time_ns()}"
    work.mkdir(parents=True)
    procs.configure(ROOT, work, hw, None)
    tables = work / "tables"
    exp = gen.fixture_expected_raw(pirate)
    spark = start_session()
    tracer = tracing.Tracer(False)
    cases = [
        ("raw_pipeline", chains.raw_pipeline,
         chains.Inputs(genbank=str(fx / "genbank"), pirate=pirate)),
        ("graph_770", chains.graph_770, chains.Inputs(tables=str(tables))),
    ]
    results = {}
    try:
        _fixture_tables(spark, pirate, tables)
        for name, chain, inp in cases:
            t0 = time.perf_counter()
            try:
                errors = chain(spark, tracer, inp, exp, str(work / name)).errors
            except Exception:
                traceback.print_exc(file=sys.stderr)
                errors = ["raised"]
            results[name] = (time.perf_counter() - t0, errors)
            spark.catalog.clearCache()
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(bool(errs) for _t, errs in results.values())
    for name, (t, errs) in results.items():
        print(f"smoke {name}: {t:.1f} s, {errs or 'ok'}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {f"smoke.{n}_s": {"value": t, "unit": "s"} for n, (t, _e) in results.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("raw_pipeline", "graph_770"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    if not PACKAGE.is_dir():
        print(f"pipebench: package {PACKAGE.name} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import procs

    hw = procs.host()
    OUT.mkdir(exist_ok=True)
    result = run_smoke(hw) if args.smoke else run_workload(args, hw)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
