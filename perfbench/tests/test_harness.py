"""Self-test of the benchmark harness at tiny size.

    python -m pytest perfbench/tests -q

Checks that every workload emits every named metric with its unit (traced
and untraced), that traced spans nest, that a corrupted result is counted as
a failure, and that the benchmark refuses to run without the program.
"""
from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, harness, layers, run, workloads  # noqa: E402

TINY = {
    "GEN_REPS": 1, "SERVE_CONVS": 40, "SERVE_CHECKS": 3, "SWEEP_CONVS": 60,
    "SWEEP_PROFILES": 8, "SWEEP_BATCH": 6, "SWEEP_CHECKS": 3, "INGEST_CONVS": 40,
    "INGEST_DELTA": (3, 2, 2), "INGEST_CHECKS": 2, "INGEST_WARM_CONVS": 6,
    "OPS_DOCS": 120, "OPS_EVENTS": 300,
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    workdir = str(tmp_path_factory.mktemp("spark"))
    s, _ = harness.start_session(workdir, 2)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    yield s
    harness.stop_session(s)


@pytest.fixture
def tiny(monkeypatch):
    for k, v in TINY.items():
        monkeypatch.setattr(workloads, k, v)


def _run(spark, tmp_path, name: str, trace: bool, seconds: float = 0.01):
    tracer = harness.Tracer(spark, enabled=trace)
    undo = layers.install_probes(tracer) if trace else []
    try:
        ctx = workloads.Ctx(spark, tracer, 3, seconds, str(tmp_path))
        out = workloads.WORKLOADS[name](ctx)
        per_layer = layers.collect(name, ctx, out) if trace else None
    finally:
        layers.remove_probes(undo)
    return ctx, out, per_layer


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_harness():
    bench = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.BENCHMARK_WORKLOADS)


@pytest.mark.parametrize("name", run.WORKLOAD_NAMES)
def test_every_metric_emitted_with_unit(spark, tmp_path, tiny, name):
    ctx, out, per_layer = _run(spark, tmp_path, name, trace=True)
    assert out.failed == 0, out.failures
    assert out.attempted >= 1 and out.latencies_ms and out.setup_walls
    e2e = run.end_to_end(out, 1.0, sum(harness.peak_rss_parts_mb(spark).values()))
    assert set(e2e) == {n for n, _ in run.END_TO_END}
    assert all(math.isfinite(v) and v > 0 for v in e2e.values()), e2e
    assert set(per_layer) == set(layers.UNITS)
    assert all(math.isfinite(v) for v in per_layer.values())
    for k, (unit, value) in out.detail.items():
        assert unit and math.isfinite(value), k
    # spans nest: each child lies inside its parent and shares its request
    by_id = {s.id: s for s in ctx.tracer.spans}
    assert by_id
    for s in ctx.tracer.spans:
        assert s.end >= s.start
        assert 0 <= ctx.tracer.self_time(s) <= s.wall + 1e-9
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end, (p.name, s.name)
            assert p.request == s.request


def test_phase_spans_are_children_of_build(spark, tmp_path, tiny):
    ctx, _, _ = _run(spark, tmp_path, "serve", trace=True)
    tr = ctx.tracer
    build = tr.named("index.build_index")[-1]
    kids = {c.name for c in tr.children(build)}
    assert {"index.build.build_postings", "index.build.build_terms"} <= kids
    assert tr.inclusive(build).stages >= build.stats.stages
    assert tr.self_time(build) < build.wall


def test_union_length():
    assert harness.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert harness.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert harness.union_length([], 0, 1) == 0


def test_corrupted_search_result_counts_as_failed(spark, tmp_path, tiny, monkeypatch):
    from pyspark.sql import Row

    from similardocs_spark.query.engine import SearchEngine

    real = SearchEngine.search

    def corrupt(self, *a, **kw):
        rows = real(self, *a, **kw)
        if rows:
            r = rows[0].asDict()
            r["score"] = r["score"] * 1.5
            rows = [Row(**r)] + rows[1:]
        return rows

    monkeypatch.setattr(SearchEngine, "search", corrupt)
    monkeypatch.setattr(workloads, "SERVE_CHECKS", 100)
    _, out, _ = _run(spark, tmp_path, "serve", trace=False, seconds=3)
    assert out.failed >= 1 and out.failed / out.attempted > 0
    assert any("score" in f for f in out.failures)


def test_corrupted_outputs_fail_checks():
    class Hit:
        def __init__(self, doc_id, score):
            self.doc_id, self.conv_id, self.score = doc_id, f"c{doc_id}", score
            self.n_common, self.update_date = 2, "20250101"

    good = [Hit(1, 2.5), Hit(2, 1.5)]
    assert checks.hits_mismatch(good, good, "x") == []
    assert checks.hits_mismatch([Hit(2, 1.5), Hit(1, 2.5)], good, "x")
    assert checks.hits_mismatch([Hit(1, 2.5001), Hit(2, 1.5)], good, "x")
    assert checks.counters_mismatch({"inserts": 3}, {"inserts": 2}, "x")
    assert checks.table_mismatch([(1, "a")], ["k", "v"], [(1, "b")], ["k", "v"], "x")
    assert checks.table_mismatch([(1, "a")], ["k", "v"], [("a", 1)], ["v", "k"], "x") == []


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
