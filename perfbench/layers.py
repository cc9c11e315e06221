"""Per-layer metrics of the traced run.

Names are ``<layer>.<metric>`` with layers named after the modules of
``similardocs_spark``. A workload reports every metric; a layer the workload
does not exercise reports 0 (the layer table in README.md says which
workload each layer is heavy on and where it should stay flat).

Three kinds of number appear here:
- span numbers: walls, self times and Spark stage metrics of the job
  groups the harness set around public calls;
- driver-call probes: a layer function called directly on real inputs of
  the workload (tokenizer, codec, scoring kernels), outside the timed loop;
- counts read from the index on disk.
"""
from __future__ import annotations

import functools
import statistics
from time import perf_counter

from .harness import Tracer, gc_seconds, percentile

OPS_FAMILY_NAMES = ("dedup", "ann", "textstats", "lm", "spandedup", "decontam",
                    "packing", "sessions", "privacy", "multimodal")

# (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("tokenize.rows_per_s", "1/s", "higher"),
    ("tokenize.fast_path_share", "ratio", "higher"),
    ("build.docs_phase_s", "s", "lower"),
    ("build.postings_phase_s", "s", "lower"),
    ("build.terms_phase_s", "s", "lower"),
    ("build.driver_s", "s", "lower"),
    ("build.stages", "count", "lower"),
    ("build.tasks", "count", "lower"),
    ("build.executor_run_s", "s", "lower"),
    ("build.executor_cpu_s", "s", "lower"),
    ("build.gc_s", "s", "lower"),
    ("build.shuffle_write_mb", "MB", "lower"),
    ("build.spill_mb", "MB", "lower"),
    ("postings.rows", "count", "lower"),
    ("postings.mb", "MB", "lower"),
    ("postings.bytes_per_posting", "B", "lower"),
    ("codec.decode_postings_per_s", "1/s", "higher"),
    ("upsert.call_s", "s", "lower"),
    ("upsert.segs_rewritten", "count", "lower"),
    ("upsert.output_mb", "MB", "lower"),
    ("upsert.write_amp", "ratio", "lower"),
    ("upsert.stages", "count", "lower"),
    ("engine.open_s", "s", "lower"),
    ("serve.prepare_ms", "ms", "lower"),
    ("serve.jobs_per_query", "count", "lower"),
    ("serve.stages_per_query", "count", "lower"),
    ("serve.tasks_per_query", "count", "lower"),
    ("serve.executor_run_ms_per_query", "ms", "lower"),
    ("serve.shuffle_kb_per_query", "KB", "lower"),
    ("serve.driver_ms_per_query", "ms", "lower"),
    ("serve.plain_p50_ms", "ms", "lower"),
    ("serve.ladder_p50_ms", "ms", "lower"),
    ("serve.filtered_p50_ms", "ms", "lower"),
    ("wand.batch_kernel_ms_per_seg", "ms", "lower"),
    ("wand.single_kernel_ms_per_seg", "ms", "lower"),
    ("batch.jobs", "count", "lower"),
    ("batch.stages", "count", "lower"),
    ("batch.tasks", "count", "lower"),
    ("batch.executor_run_s", "s", "lower"),
    ("batch.shuffle_write_mb", "MB", "lower"),
    ("batch.driver_s", "s", "lower"),
    ("batch.ladder_rounds", "count", "lower"),
    ("sweep.search_batch_s", "s", "lower"),
    ("sweep.store_s", "s", "lower"),
    ("sweep.duplicate_share", "ratio", "higher"),
    *[(f"ops.{fam}_{m}", u, "lower") for fam in OPS_FAMILY_NAMES
      for m, u in (("s", "s"), ("stages", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"))],
    ("spark.persisted_rdds_left", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}


# ------------------------------------------------------------------ probes


def install_probes(tracer: Tracer) -> list:
    """Wrap internal phase functions that public calls reach, so the build's
    postings/terms phases and the batch ladder's rounds get spans of their
    own. Returns undo records for ``remove_probes``."""
    from similardocs_spark.index import build as build_mod
    from similardocs_spark.query import batch as batch_mod

    undo = []
    for mod, attr, name in (
        (build_mod, "build_postings", "index.build.build_postings"),
        (build_mod, "build_terms", "index.build.build_terms"),
        (batch_mod, "_batch_bucket", "query.batch.bucket"),
    ):
        orig = getattr(mod, attr)

        def wrapped(*a, __orig=orig, __name=name, **kw):
            with tracer.span(__name):
                return __orig(*a, **kw)

        functools.update_wrapper(wrapped, orig)
        setattr(mod, attr, wrapped)
        undo.append((mod, attr, orig))
    return undo


def remove_probes(undo: list) -> None:
    for mod, attr, orig in undo:
        setattr(mod, attr, orig)


def _timed(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = perf_counter()
        fn()
        walls.append(perf_counter() - t0)
    return statistics.median(walls)


def tokenize_probe(texts: list[str], rerank: list[str]) -> float:
    """Rows per second of a driver call of the fused build-path tokenizer
    on a fixed batch."""
    import pandas as pd

    from similardocs_spark.functions.tokenize import tokenize_with_rerank

    a, b = pd.Series(texts), pd.Series(rerank)
    return len(texts) / _timed(lambda: tokenize_with_rerank.func(a, b))


def fast_path_share(texts: list[str], rerank: list[str]) -> float:
    """Share of tokenizer inputs that pass its fast-path gate: ASCII, and no
    whitespace-free run longer than MAX_TOKEN_LEN."""
    from similardocs_spark.textnorm import MAX_TOKEN_LEN

    def fast(s: str) -> bool:
        return s.isascii() and all(len(w) <= MAX_TOKEN_LEN for w in s.split())

    both = texts + rerank
    return sum(map(fast, both)) / len(both)


def tokenizer_inputs(workload: str, state: dict) -> tuple[list[str], list[str]]:
    """(text, rerank source) of the first 256 documents the workload indexes;
    corpus_ops has no index, so its documents' text stands for both."""
    if workload == "corpus_ops":
        docs = state["tables"]["documents"].column("text").to_pylist()[:256]
        return docs, docs
    return docs_for_tokenize(state["turns"])


def docs_for_tokenize(turns, limit: int = 256) -> tuple[list[str], list[str]]:
    """The build's per-conversation text and rerank source for the first
    ``limit`` conversations."""
    from similardocs_spark.oracle.refsearch import assemble_doc_text, rerank_source_text

    by_conv: dict[str, list] = {}
    for t in turns:
        by_conv.setdefault(t.conv_id, []).append(t)
    texts, rerank = [], []
    for conv_id in sorted(by_conv)[:limit]:
        tt = [t.text for t in sorted(by_conv[conv_id], key=lambda t: t.turn_idx)]
        texts.append(assemble_doc_text(tt))
        rerank.append(rerank_source_text(tt))
    return texts, rerank


def postings_probe(paths) -> dict[str, float]:
    """Postings table size and a driver-call decode rate over every blob."""
    import numpy as np
    import pyarrow.dataset as ds

    from similardocs_spark.index import codec

    from .workloads import dir_bytes

    blobs = ds.dataset(paths.postings, format="parquet", partitioning="hive").to_table(
        columns=["blob"]
    ).column("blob").to_pylist()
    n_post = sum(int(np.frombuffer(b, dtype=np.uint32, count=1)[0]) for b in blobs)
    wall = _timed(lambda: [codec.decode_docids(b) for b in blobs])
    return {
        "postings.rows": float(len(blobs)),
        "postings.mb": dir_bytes(paths.postings) / 2**20,
        "postings.bytes_per_posting": sum(len(b) for b in blobs) / max(1, n_post),
        "codec.decode_postings_per_s": n_post / wall,
    }


def kernel_probe(engine, queries: list[str]) -> dict[str, float]:
    """Both scoring kernels on segment 0's real frames for up to 32 of the
    workload's queries: the batched kernel once for all of them, the
    single-query WAND kernel once per query."""
    from pyspark.sql import functions as F

    from similardocs_spark import bm25
    from similardocs_spark.oracle.refsearch import CANDIDATE_FACTOR, DEFAULT_MAX_DOCS
    from similardocs_spark.query.batch import _prepare_batch
    from similardocs_spark.query.wand import batch_score_kernel, wand_kernel

    qinfo = _prepare_batch(engine, {f"q{i}": q for i, q in enumerate(queries[:32])})
    w_by_q = {qid: info["w_idf"] for qid, info in qinfo.items()}
    terms = sorted({t for w in w_by_q.values() for t in w})
    if not terms:
        return {}
    post = (
        engine._postings.filter((F.col("seg") == 0) & F.col("term").isin(terms))
        .select("seg", "term", "blob", "block_last", "block_min_dlq")
        .toPandas()
    )
    docs = (
        engine._docs.filter(F.col("seg") == 0)
        .select("seg", "doc_id", "tfnorm", F.lit(float(bm25.DATE_RANGE_CONST)).alias("const"))
        .toPandas()
    )
    pool = CANDIDATE_FACTOR * DEFAULT_MAX_DOCS
    pools = {qid: pool for qid in w_by_q}
    batch_s = _timed(lambda: batch_score_kernel(
        (0, 0), post, docs, {0: w_by_q}, engine.seg_size, pools))
    single_s = _timed(lambda: [
        wand_kernel((0,), post, docs, w, engine.seg_size, pool, engine.avgdl)
        for w in w_by_q.values()
    ])
    return {"wand.batch_kernel_ms_per_seg": batch_s * 1e3,
            "wand.single_kernel_ms_per_seg": single_s * 1e3}


# ---------------------------------------------------------------- from spans


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def build_metrics(tr: Tracer) -> dict[str, float]:
    builds = tr.named("index.build_index")
    if not builds:
        return {}
    sp = builds[-1]  # the build whose index the workload then uses
    kids = tr.children(sp)
    post = sum(c.wall for c in kids if c.name == "index.build.build_postings")
    terms = sum(c.wall for c in kids if c.name == "index.build.build_terms")
    st = tr.inclusive(sp)
    return {
        "build.docs_phase_s": sp.wall - post - terms,
        "build.postings_phase_s": post,
        "build.terms_phase_s": terms,
        "build.driver_s": tr.driver_s(sp),
        "build.stages": st.stages,
        "build.tasks": st.tasks,
        "build.executor_run_s": st.executor_run_s,
        "build.executor_cpu_s": st.executor_cpu_s,
        "build.gc_s": st.gc_s,
        "build.shuffle_write_mb": st.shuffle_write_mb,
        "build.spill_mb": st.spill_mb,
    }


def upsert_metrics(tr: Tracer, outcome) -> dict[str, float]:
    spans = tr.named("index.incremental.incremental_update")
    if not spans:
        return {}
    stats = [tr.inclusive(s) for s in spans]
    deltas = outcome.state["deltas"][: len(spans)]
    changed_bytes = sum(
        len(t.text.encode("utf-8"))
        for d in deltas for t in d.turns
        if t.conv_id in _applied(d)
    )
    out_mb = sum(s.output_mb for s in stats)
    return {
        "upsert.call_s": statistics.median(s.wall for s in spans),
        "upsert.segs_rewritten": _mean(c.get("segs", 0) for c in outcome.state["counters"]),
        "upsert.output_mb": out_mb / len(spans),
        "upsert.write_amp": out_mb * 2**20 / max(1, changed_bytes),
        "upsert.stages": _mean(s.stages for s in stats),
    }


def _applied(delta) -> set[str]:
    """conv_ids of a delta that the index must take (inserts + updates)."""
    n_new, n_upd = delta.expected["inserts"], delta.expected["updates"]
    order: list[str] = []
    for t in delta.turns:
        if t.conv_id not in order:
            order.append(t.conv_id)
    return set(order[: n_new + n_upd])


def serve_metrics(tr: Tracer, outcome) -> dict[str, float]:
    from .inputs import FILTERED_MODES, LADDER_MODES, SERVE_MODES

    names = {m for m, _ in SERVE_MODES}
    spans = [s for s in tr.named("query.engine.search") if s.attrs.get("mode") in names]
    if not spans:
        return {}
    stats = [tr.inclusive(s) for s in spans]
    lat = outcome.latencies_ms
    modes = outcome.state["modes"]

    def p50(group) -> float:
        xs = [v for v, m in zip(lat, modes) if m in group]
        return percentile(xs, 0.5) if xs else 0.0

    return {
        "serve.jobs_per_query": _mean(s.jobs for s in stats),
        "serve.stages_per_query": _mean(s.stages for s in stats),
        "serve.tasks_per_query": _mean(s.tasks for s in stats),
        "serve.executor_run_ms_per_query": _mean(s.executor_run_s * 1e3 for s in stats),
        "serve.shuffle_kb_per_query": _mean(s.shuffle_write_mb * 1024 for s in stats),
        "serve.driver_ms_per_query": _mean(tr.driver_s(s) * 1e3 for s in spans),
        "serve.plain_p50_ms": p50({"plain"}),
        "serve.ladder_p50_ms": p50(set(LADDER_MODES)),
        "serve.filtered_p50_ms": p50(set(FILTERED_MODES)),
    }


def batch_metrics(tr: Tracer) -> dict[str, float]:
    spans = tr.named("query.batch.search_batch")
    if not spans:
        return {}
    stats = [tr.inclusive(s) for s in spans]
    return {
        "batch.jobs": _mean(s.jobs for s in stats),
        "batch.stages": _mean(s.stages for s in stats),
        "batch.tasks": _mean(s.tasks for s in stats),
        "batch.executor_run_s": _mean(s.executor_run_s for s in stats),
        "batch.shuffle_write_mb": _mean(s.shuffle_write_mb for s in stats),
        "batch.driver_s": _mean(tr.driver_s(s) for s in spans),
        "batch.ladder_rounds": _mean(
            sum(c.name == "query.batch.bucket" for c in tr.children(s)) for s in spans
        ),
    }


def ops_metrics(tr: Tracer, outcome) -> dict[str, float]:
    passes = max(1, len(outcome.state.get("passes", [])))
    out = {}
    for fam in OPS_FAMILY_NAMES:
        spans = tr.named(f"operators.{fam}")
        stats = [tr.inclusive(s) for s in spans]
        out[f"ops.{fam}_s"] = sum(s.wall for s in spans) / passes
        out[f"ops.{fam}_stages"] = sum(s.stages for s in stats) / passes
        out[f"ops.{fam}_shuffle_mb"] = sum(s.shuffle_write_mb for s in stats) / passes
        out[f"ops.{fam}_spill_mb"] = sum(s.spill_mb for s in stats) / passes
    return out


def serve_extension(ctx, outcome) -> dict[str, float]:
    """Layers the two timed workloads do not time, measured once on serve's
    traced run: one profile refresh (``ProfileStore.update_stale``) and one
    batch of the run's query texts on serve's engine, then one
    representative query of each operator family on generated tables. The
    ``sweep`` and ``corpus_ops`` workloads measure the same layers in full."""
    import os

    import __spark_entry__ as entry

    from similardocs_spark.profiles import STALE_DELTA_MS, ProfileStore

    from .workloads import OPS_FAMILIES, _TimedEngine, write_ops_tables

    tr, st = ctx.tracer, outcome.state
    engine = st["engine"]
    texts = st["queries"][:32]
    store = ProfileStore(ctx.spark, os.path.join(ctx.workdir, "ext-profiles"))
    with tr.span("profiles.upsert_profiles"):
        store.upsert_profiles(
            [(f"user{i % 4}", f"p{i}", t) for i, t in enumerate(texts)], now_ms=1
        )
    proxy = _TimedEngine(engine, tr)
    t0 = perf_counter()
    with tr.span("profiles.update_stale"):
        store.update_stale(proxy, STALE_DELTA_MS + 2)
    upd_s = perf_counter() - t0
    with tr.span("query.batch.search_batch", batch=len(texts), caller="client"):
        engine.search_batch({f"b{i}": t for i, t in enumerate(texts)})
    out = {
        "sweep.search_batch_s": proxy.search_batch_s,
        "sweep.store_s": upd_s - proxy.search_batch_s,
        "sweep.duplicate_share": 1 - len(set(texts)) / len(texts),
    }
    data_dir = os.path.join(ctx.workdir, "ext-ops")
    write_ops_tables(ctx.seed, data_dir)
    queries = entry.queries()
    for fam, names in OPS_FAMILIES.items():
        with tr.span(f"operators.{fam}", query=names[0]):
            queries[names[0]](ctx.spark, data_dir).collect()
    return out


def collect(workload: str, ctx, outcome) -> dict[str, float]:
    """Every per-layer metric for one traced run (0 where the layer did no
    work in this workload)."""
    tr = ctx.tracer
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    st = outcome.state
    texts, rerank = tokenizer_inputs(workload, st)
    m["tokenize.rows_per_s"] = tokenize_probe(texts, rerank)
    m["tokenize.fast_path_share"] = fast_path_share(texts, rerank)
    m.update(build_metrics(tr))
    if "paths" in st:
        m.update(postings_probe(st["paths"]))
    if "engine" in st:
        m.update(kernel_probe(st["engine"], st["queries"]))
        engine = st["engine"]
        m["serve.prepare_ms"] = statistics.median(
            _timed(lambda q=q: engine.prepare(q), reps=1) * 1e3 for q in st["queries"][:64]
        )
    if workload == "ingest":
        m.update(upsert_metrics(tr, outcome))
    opens = tr.named("query.engine.open")
    if opens:
        m["engine.open_s"] = statistics.median(s.wall for s in opens)
    if workload == "serve":
        m.update(serve_metrics(tr, outcome))
        m.update(serve_extension(ctx, outcome))
    m.update(batch_metrics(tr))
    if workload == "sweep":
        proxy = st["proxy"]
        m["sweep.search_batch_s"] = proxy.search_batch_s
        m["sweep.store_s"] = sum(st["update_walls"]) - proxy.search_batch_s
        m["sweep.duplicate_share"] = outcome.inputs["duplicate_share"]
    if workload in ("serve", "corpus_ops"):
        m.update(ops_metrics(tr, outcome))
    sc = ctx.spark.sparkContext
    m["spark.persisted_rdds_left"] = float(sc._jsc.getPersistentRDDs().size())
    m["spark.gc_s"] = gc_seconds(ctx.spark)
    return {k: float(v) for k, v in m.items()}
