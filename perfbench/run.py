#!/usr/bin/env python3
"""Benchmark of similardocs_spark: one workload per invocation.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints each metric by name with its unit, then,
as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
README.md). ``--workload all`` runs every workload, each in its own process,
and prints one table. A full record of each run (inputs, provenance, named
workload metrics, spans of a traced run) is written to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# the workloads BENCHMARK.json lists, then the extended ones: sweep and
# corpus_ops each take longer than a run's share of the benchmark's time
# budget, so they run on request (README.md)
WORKLOAD_NAMES = ("serve", "ingest", "sweep", "corpus_ops")
BENCHMARK_WORKLOADS = WORKLOAD_NAMES[:2]

# (name, unit): the end-to-end metrics every workload reports with --trace 0
END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_missing() -> str | None:
    """Why the program under test cannot be imported from this checkout."""
    if not os.path.isfile(os.path.join(ROOT, "similardocs_spark", "__init__.py")):
        return f"similardocs_spark/ not found under {ROOT}; run from a repository checkout"
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        return f"__spark_entry__.py not found under {ROOT}"
    return None


def end_to_end(outcome, session_s: float, rss_mb: float) -> dict[str, float]:
    from perfbench.harness import percentile

    return {
        "setup_s": session_s + outcome.setup_once + statistics.median(outcome.setup_walls),
        "latency_p50_ms": percentile(outcome.latencies_ms, 0.5),
        "throughput_per_s": outcome.throughput,
        "peak_rss_mb": rss_mb,
    }


def run_one(args) -> int:
    problem = program_missing()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    # every scratch file of Spark, its Python workers and tempfile stays
    # inside the checkout; executors import the program from ROOT
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}"
    os.environ["TZ"] = "UTC"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    time.tzset()
    import tempfile

    tempfile.tempdir = None

    from perfbench import harness, layers, workloads

    cores = len(os.sched_getaffinity(0))
    spark, session_s = harness.start_session(workdir, cores)
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        undo = layers.install_probes(tracer) if args.trace else []
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, workdir)
        outcome = workloads.WORKLOADS[args.workload](ctx)
        rss = harness.peak_rss_parts_mb(spark)
        e2e = end_to_end(outcome, session_s, sum(rss.values()))
        per_layer = layers.collect(args.workload, ctx, outcome) if args.trace else None
        layers.remove_probes(undo)
        prov = harness.provenance(spark, ROOT, args.seed)
        spans = tracer.dump() if args.trace else []
    finally:
        harness.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    outcome.inputs["tokenize_fast_path_share"] = layers.fast_path_share(
        *layers.tokenizer_inputs(args.workload, outcome.state)
    )
    failed_share = outcome.failed / max(1, outcome.attempted)
    detail = dict(outcome.detail)
    detail["setup_s"] = ("s", e2e["setup_s"])
    detail["peak_rss_mb"] = ("MB", e2e["peak_rss_mb"])
    detail["failed_share"] = ("ratio", failed_share)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": outcome.failed == 0 and outcome.attempted > 0,
        "attempted": outcome.attempted, "failed": outcome.failed,
        "failures": outcome.failures[:50],
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END},
        "workload_metrics": {k: {"value": v, "unit": u} for k, (u, v) in detail.items()},
        "samples": {"latency_ms": outcome.latencies_ms, "setup_walls_s": outcome.setup_walls,
                    "setup_once_s": outcome.setup_once,
                    "timed_s": outcome.timed_s, "cpu_s": outcome.cpu_s,
                    "steal_s": outcome.steal_s,
                    "session_s": session_s, "peak_rss_parts_mb": rss},
        "inputs": outcome.inputs,
        "provenance": prov,
    }
    if args.trace:
        record["per_layer"] = {k: {"value": v, "unit": layers.UNITS[k]}
                               for k, v in per_layer.items()}
        record["spans"] = spans
        record["tracing_overhead"] = tracing_overhead(args, e2e)
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={outcome.attempted} failed={outcome.failed}")
    for msg in outcome.failures[:10]:
        print(f"  FAILED {msg}")
    for k, u in END_TO_END:
        print(f"  {k:<28} {e2e[k]:>14.4f} {u}")
    for k, (u, v) in detail.items():
        print(f"  {args.workload}.{k:<{27 - len(args.workload)}} {v:>14.4f} {u}")
    if args.trace:
        for k, d in record["tracing_overhead"].items():
            print(f"  overhead.{k:<19} {d['traced_minus_untraced']:>14.4f} {d['unit']}")
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps({"correct": record["correct"], "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0


def tracing_overhead(args, traced: dict[str, float]) -> dict:
    """Traced minus untraced end-to-end numbers, when the untraced record of
    the same workload and seed exists."""
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {k: {"unit": u, "untraced": base[k]["value"], "traced": traced[k],
                "traced_minus_untraced": traced[k] - base[k]["value"]}
            for k, u in END_TO_END if k in base}


def run_all(args) -> int:
    """Every workload in its own process; one table of every metric."""
    problem = program_missing()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    rows, results = [], {}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode
        results[w] = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(OUT_DIR, f"{w}-seed{args.seed}-trace{args.trace}.json")) as f:
            rec = json.load(f)
        for k, d in {**rec["end_to_end"], **rec["workload_metrics"]}.items():
            rows.append((w, k, d["value"], d["unit"]))
    for w, k, v, u in rows:
        print(f"{w:<11} {k:<28} {v:>14.4f} {u}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": d for w, r in results.items() for k, d in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
