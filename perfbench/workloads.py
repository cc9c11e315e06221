"""The four workloads: serve, sweep, ingest and corpus_ops.

Each workload sets up (several times, for a steady ``setup_s``), runs its
timed closed loop for the requested number of seconds with one client,
checks a seeded sample of what the loop produced against an oracle outside
the timed region, and returns an :class:`Outcome`. With tracing on, every
call into the program is wrapped in a span; per-layer metrics are derived
from those spans by ``layers.py``.
"""
from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from time import perf_counter

from similardocs_spark.fixtures import END_DAYS_AGO, PINNED_TODAY
from similardocs_spark.index.build import IndexPaths, build_index
from similardocs_spark.index.incremental import incremental_update
from similardocs_spark.oracle.refsearch import DEFAULT_MAX_DOCS, DEFAULT_MIN_NGRAMS
from similardocs_spark.profiles import STALE_DELTA_MS, ProfileStore
from similardocs_spark.query.engine import SearchEngine

from . import checks, inputs
from .harness import Tracer, percentile, steal_s, tail_quantile, tree_cpu_s

# Sizes. Each run must fit the benchmark's per-run budget on a 4-core host
# (see README.md). Input generation is repeated GEN_REPS times and its median
# reported; the rest of the set-up (builds, opens, warm-up) runs once, since
# a second build would cost more than a run's share of the budget.
GEN_REPS = 3
SERVE_WARM = 2  # searches before timing
SERVE_CONVS = 200
SERVE_SEG = 64
SERVE_CHECKS = 12
SWEEP_CONVS = 600
SWEEP_SEG = 256
SWEEP_PROFILES = 64
SWEEP_DUP_SHARE = 0.25
SWEEP_BATCH = 64
SWEEP_CHECKS = 8
INGEST_CONVS = 200
INGEST_SEG = 64
INGEST_DELTA = (12, 6, 6)  # new, updated, skipped conversations per delta
INGEST_CHECKS = 3
INGEST_WARM_CONVS = 16
OPS_DOCS = 500
OPS_EVENTS = 2000


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    workdir: str


@dataclass
class Outcome:
    setup_walls: list[float] = field(default_factory=list)  # input generation, repeated
    setup_once: float = 0.0  # builds, opens and warm-up
    latencies_ms: list[float] = field(default_factory=list)  # one per unit request
    timed_s: float = 0.0  # wall of the timed region
    throughput: float = 0.0  # requests or items per second (see each workload)
    cpu_s: float = 0.0  # CPU of driver, JVM and workers in the timed region
    steal_s: float = 0.0  # hypervisor steal over the timed region (all CPUs)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # workload-specific named metrics
    inputs: dict = field(default_factory=dict)  # corpus sizes and input shares
    state: dict = field(default_factory=dict)  # handles the traced run inspects

    def fail(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.failures.extend(problems)


# ----------------------------------------------------------------- helpers


def turns_df(spark, turns):
    import pandas as pd

    pdf = pd.DataFrame(
        [(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts) for t in turns],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    return spark.createDataFrame(pdf, schema=inputs.TRANSCRIPT_SCHEMA)


def meta_df(spark, meta):
    import pandas as pd

    pdf = pd.DataFrame(
        [(c, m["db"], m["instance"], m["update_date"]) for c, m in sorted(meta.items())],
        columns=["conv_id", "db", "instance", "update_date"],
    )
    return spark.createDataFrame(pdf, schema=inputs.META_SCHEMA)


def text_bytes(turns) -> int:
    return sum(len(t.text.encode("utf-8")) for t in turns)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def index_bytes(paths: IndexPaths) -> int:
    """On-disk bytes of docs + postings + terms + stats."""
    return sum(dir_bytes(p) for p in (paths.docs, paths.postings, paths.terms, paths.stats))


def build(ctx: Ctx, turns, meta, name: str, seg_size: int) -> IndexPaths:
    root = os.path.join(ctx.workdir, name)
    shutil.rmtree(root, ignore_errors=True)
    tdf = turns_df(ctx.spark, turns)
    mdf = meta_df(ctx.spark, meta) if meta is not None else None
    with ctx.tracer.span("index.build_index", convs=len({t.conv_id for t in turns})):
        return build_index(ctx.spark, tdf, root, docs_meta=mdf, seg_size=seg_size)


def open_engine(ctx: Ctx, paths: IndexPaths, cache: bool) -> SearchEngine:
    with ctx.tracer.span("query.engine.open", cache=cache):
        return SearchEngine(ctx.spark, paths, PINNED_TODAY, END_DAYS_AGO, cache=cache)


def corpus_inputs(turns, paths: IndexPaths | None) -> dict:
    out = {
        "conversations": len({t.conv_id for t in turns}),
        "turns": len(turns),
        "text_bytes": text_bytes(turns),
    }
    if paths is not None:
        out["index_bytes"] = index_bytes(paths)
    return out


def sample(seed: int, n: int, k: int) -> list[int]:
    return sorted(random.Random(seed * 2654435761 + 7).sample(range(n), min(k, n)))


def until(seconds: float, t_start: float, done: int, multiple: int = 1) -> bool:
    """Closed-loop condition: keep issuing while time remains, and until the
    count of completed requests is a positive multiple of ``multiple``."""
    return done == 0 or done % multiple != 0 or perf_counter() - t_start < seconds


class TimedRegion:
    """Wall time, CPU time of the driver's process tree and hypervisor steal
    over a workload's timed region. CPU and steal go to the record only, to
    tell a slower program from a busier host."""

    def __init__(self):
        self.cpu0, self.steal0 = tree_cpu_s(os.getpid()), steal_s()
        self.t0 = perf_counter()

    def close(self, out: Outcome) -> None:
        out.timed_s = perf_counter() - self.t0
        out.cpu_s = tree_cpu_s(os.getpid()) - self.cpu0
        out.steal_s = steal_s() - self.steal0


def generate(out: Outcome, make):
    """Input generation, repeated GEN_REPS times for a steady median."""
    for _ in range(GEN_REPS):
        t0 = perf_counter()
        made = make()
        out.setup_walls.append(perf_counter() - t0)
    return made


# ------------------------------------------------------------------- serve


def serve(ctx: Ctx) -> Outcome:
    """Closed loop of single ``SearchEngine.search`` calls (one client) over
    a cached engine, modes cycling plain / split_time / sources / instances /
    last_days / max_docs=25."""
    out = Outcome()
    tr = ctx.tracer
    turns, meta = generate(out, lambda: inputs.multilingual(ctx.seed, SERVE_CONVS))
    queries = inputs.serve_queries(ctx.seed, 4000)
    t0 = perf_counter()
    paths = build(ctx, turns, meta, "serve", SERVE_SEG)
    engine = open_engine(ctx, paths, cache=True)
    for text, mode in inputs.serve_queries(ctx.seed + 1_000_003, SERVE_WARM):
        engine.search(text, **inputs.mode_kwargs(mode))
    out.setup_once = perf_counter() - t0
    results: list = []
    modes: list[str] = []
    region = TimedRegion()
    # whole cycles of the modes, so every run has the same mode mix
    while until(ctx.seconds, region.t0, len(results), multiple=len(inputs.SERVE_MODES)):
        text, mode = queries[len(results)]
        with tr.request(f"q{len(results)}"), tr.span("query.engine.search", mode=mode):
            t0 = perf_counter()
            try:
                rows = engine.search(text, **inputs.mode_kwargs(mode))
            except Exception as e:  # counted, never hidden
                rows = e
            out.latencies_ms.append((perf_counter() - t0) * 1e3)
        results.append(rows)
        modes.append(mode)
    region.close(out)
    out.attempted = len(results)
    out.throughput = len(results) / out.timed_s

    oracle = checks.oracle_for(turns)
    checked = set(sample(ctx.seed, len(results), SERVE_CHECKS))
    for i, rows in enumerate(results):
        if isinstance(rows, Exception):
            out.fail([f"search {i}: {rows!r}"])
        elif i in checked:
            text, mode = queries[i]
            exp = oracle.search(text, **inputs.mode_kwargs(mode))
            out.fail(checks.hits_mismatch(rows, exp, f"search {i} [{mode}]"))

    lat = out.latencies_ms
    out.detail = {"search_p50_ms": ("ms", percentile(lat, 0.5))}
    q = tail_quantile(len(lat))
    if q is not None:
        out.detail[f"search_p{int(q * 100)}_ms"] = ("ms", percentile(lat, int(q * 100) / 100))
    out.inputs = corpus_inputs(turns, paths)
    out.inputs["query_mode_share"] = {
        m: round(modes.count(m) / len(modes), 4) for m, _ in inputs.SERVE_MODES
    }
    out.state = {"engine": engine, "paths": paths, "turns": turns, "modes": modes,
                 "queries": [q for q, _ in queries[: len(results)]]}
    return out


# ------------------------------------------------------------------- sweep


class _TimedEngine:
    """Engine proxy handed to ``ProfileStore.update_stale``: adds up the time
    spent inside ``search_batch`` so the store's own work can be separated."""

    def __init__(self, engine: SearchEngine, tracer: Tracer):
        self._engine = engine
        self._tracer = tracer
        self.search_batch_s = 0.0

    def search_batch(self, queries, **kwargs):
        t0 = perf_counter()
        with self._tracer.span("query.batch.search_batch", batch=len(queries), caller="profiles"):
            res = self._engine.search_batch(queries, **kwargs)
        self.search_batch_s += perf_counter() - t0
        return res


def sweep(ctx: Ctx) -> Outcome:
    """Closed loop of profile refreshes: ``ProfileStore.update_stale`` over
    every profile (all stale again each round), each followed by one
    ``search_batch`` of distinct Zipf queries."""
    out = Outcome()
    tr = ctx.tracer
    turns, profs, batch = generate(out, lambda: (
        inputs.zipf_transcripts(ctx.seed, SWEEP_CONVS),
        inputs.profiles(ctx.seed, SWEEP_PROFILES, SWEEP_DUP_SHARE),
        {f"z{i}": q for i, q in enumerate(inputs.zipf_queries(ctx.seed, SWEEP_BATCH))},
    ))
    t0 = perf_counter()
    paths = build(ctx, turns, None, "sweep", SWEEP_SEG)
    engine = open_engine(ctx, paths, cache=True)
    store = ProfileStore(ctx.spark, os.path.join(ctx.workdir, "profiles"))
    with tr.span("profiles.upsert_profiles"):
        store.upsert_profiles(profs.entries, now_ms=1)
    engine.search_batch({"warm0": "w10 w11 w12", "warm1": "w13 w14"}, split_time=True)
    out.setup_once = perf_counter() - t0

    proxy = _TimedEngine(engine, tr)
    update_walls: list[float] = []
    refreshed: list[int] = []
    batch_res = None
    now_ms = 1
    region = TimedRegion()
    while until(ctx.seconds, region.t0, len(update_walls)):
        now_ms += STALE_DELTA_MS + 1  # every profile is stale again
        with tr.request(f"sweep{len(update_walls)}"):
            t0 = perf_counter()
            try:
                with tr.span("profiles.update_stale"):
                    refreshed.append(store.update_stale(proxy, now_ms))
            except Exception as e:
                refreshed.append(0)
                out.fail([f"update_stale: {e!r}"])
            update_walls.append(perf_counter() - t0)
            t0 = perf_counter()
            try:
                with tr.span("query.batch.search_batch", batch=len(batch), caller="client"):
                    batch_res = engine.search_batch(batch)
            except Exception as e:
                batch_res = e
                out.fail([f"search_batch: {e!r}"])
            out.latencies_ms.append((perf_counter() - t0) * 1e3)
    region.close(out)
    out.attempted = 2 * len(update_walls)

    oracle = checks.oracle_for(turns)
    problems = [f"update_stale refreshed {n} != {SWEEP_PROFILES}"
                for n in refreshed if n != SWEEP_PROFILES]
    rows = [r for u in sorted({u for u, _, _ in profs.entries}) for r in store.get_profiles(u)]
    for i in sample(ctx.seed, len(rows), SWEEP_CHECKS):
        r = rows[i]
        exp = oracle.search(r["prof_content"], max_docs=DEFAULT_MAX_DOCS,
                            min_ngrams=DEFAULT_MIN_NGRAMS, split_time=True)
        problems += checks.ids_mismatch(r["sd_ids"], [h.doc_id for h in exp], f"profile {r['id']}")
    out.fail(problems)
    if not isinstance(batch_res, Exception):
        qids = sorted(batch)
        problems = []
        for i in sample(ctx.seed + 1, len(qids), SWEEP_CHECKS):
            qid = qids[i]
            problems += checks.hits_mismatch(batch_res[qid], oracle.search(batch[qid]), qid)
        out.fail(problems)

    out.throughput = sum(refreshed) / sum(update_walls)
    out.detail = {
        "sweep_profiles_per_s": ("1/s", out.throughput),
        "batch_qps": ("1/s", len(batch) / (percentile(out.latencies_ms, 0.5) / 1e3)),
    }
    out.inputs = corpus_inputs(turns, paths)
    out.inputs.update(profiles=SWEEP_PROFILES, batch_queries=len(batch),
                      duplicate_share=profs.duplicate_share)
    out.state = {"engine": engine, "paths": paths, "turns": turns, "batch": batch,
                 "update_walls": update_walls, "proxy": proxy,
                 "queries": list(batch.values())}
    return out


# ------------------------------------------------------------------ ingest


def ingest(ctx: Ctx) -> Outcome:
    """Full ``build_index`` of a multilingual corpus, then seeded deltas
    through ``incremental_update``, each followed by a fresh
    ``SearchEngine(cache=False)`` and a probe search that must return the
    delta's marked conversation."""
    out = Outcome()
    tr = ctx.tracer
    base, meta = generate(out, lambda: inputs.multilingual(ctx.seed, INGEST_CONVS))
    # warm-up: a small build, so the timed one does not pay the process's
    # first Python-worker start and class loading
    t0 = perf_counter()
    wturns, wmeta = inputs.multilingual(ctx.seed + 7, INGEST_WARM_CONVS)
    build(ctx, wturns, wmeta, "warm", INGEST_SEG)
    out.setup_once = perf_counter() - t0

    state = inputs.CorpusState.of(base, meta)
    region = TimedRegion()
    with tr.request("build"):
        t0 = perf_counter()
        paths = build(ctx, base, meta, "ingest", INGEST_SEG)
        build_s = perf_counter() - t0
    ibytes = index_bytes(paths)
    visible: list[float] = []
    counters: list[dict] = []
    deltas: list[inputs.Delta] = []
    n_new, n_upd, n_skip = INGEST_DELTA
    # whole pairs of deltas: the median of one delta alone was too noisy
    while until(ctx.seconds, region.t0, len(deltas), multiple=2):
        d = inputs.make_delta(ctx.seed, len(deltas), state, n_new, n_upd, n_skip)
        ddf, dmeta = turns_df(ctx.spark, d.turns), meta_df(ctx.spark, d.meta)
        deltas.append(d)
        with tr.request(f"delta{len(deltas) - 1}"):
            t0 = perf_counter()
            try:
                with tr.span("index.incremental.incremental_update", delta=len(deltas) - 1):
                    got = incremental_update(ctx.spark, paths, ddf, dmeta)
                engine = open_engine(ctx, paths, cache=False)
                with tr.span("query.engine.search", mode="probe"):
                    hits = engine.search(d.probe_text)
                visible.append(perf_counter() - t0)
            except Exception as e:
                got, hits = {}, []
                out.fail([f"delta {len(deltas) - 1}: {e!r}"])
                continue
        counters.append(got)
        out.fail(
            checks.counters_mismatch(got, d.expected, f"delta {len(deltas) - 1}")
            + ([] if hits and hits[0].conv_id == d.probe_conv
               else [f"delta {len(deltas) - 1}: probe did not return {d.probe_conv}"])
        )
    region.close(out)
    out.throughput = INGEST_CONVS / build_s  # conversations indexed per second
    out.latencies_ms = [v * 1e3 for v in visible]
    out.attempted = 1 + len(deltas)

    final = state.all_turns()
    oracle = checks.oracle_for(final)
    reader = SearchEngine(ctx.spark, paths, PINNED_TODAY, END_DAYS_AGO)
    queries = inputs.serve_queries(ctx.seed + 11, INGEST_CHECKS)
    problems = []
    for text, mode in queries:
        kw = inputs.mode_kwargs(mode)
        problems += checks.hits_mismatch(reader.search(text, **kw), oracle.search(text, **kw),
                                         f"after deltas [{mode}]")
    out.fail(problems)

    out.detail = {
        "build_s": ("s", build_s),
        "upsert_visible_s": ("s", percentile(visible, 0.5) if visible else float("nan")),
        "index_bytes_per_text_byte": ("ratio", ibytes / text_bytes(base)),
    }
    out.inputs = corpus_inputs(base, None)
    out.inputs.update(index_bytes=ibytes, deltas=len(deltas),
                      delta_mix={"new": n_new, "updated": n_upd, "skipped": n_skip})
    out.state = {"paths": paths, "turns": final, "deltas": deltas, "counters": counters,
                 "engine": reader, "queries": [q for q, _ in queries]}
    return out


# -------------------------------------------------------------- corpus_ops

OPS_FAMILIES = {
    "dedup": ("exact_dedup", "dedup_docs", "minhash_pairs", "minhash_incremental",
              "simhash", "simhash_pairs", "simhash_buckets", "simhash64_pairs",
              "ngram_jaccard", "fingerprint"),
    "ann": ("cosine_topk", "ivf_assign", "ivf_topk", "ivf_probe", "embed_near_dups"),
    "textstats": ("ngram_text", "langid", "quality", "token_counts", "repetition",
                  "token_histogram", "quality_filter", "top_ngrams", "top_ngrams_approx",
                  "mixture"),
    "lm": ("lm_scores", "lm_trigram"),
    "spandedup": ("dup_spans", "strip_spans"),
    "decontam": ("decontam",),
    "packing": ("packing", "shuffled_packing", "sample", "shuffle_order"),
    "sessions": ("sessionize",),
    "privacy": ("pii", "pii_redact"),
    "multimodal": ("media_features",),
}
OPS_FAMILY_OF = {q: fam for fam, qs in OPS_FAMILIES.items() for q in qs}


def write_ops_tables(seed: int, data_dir: str) -> dict:
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    tables = inputs.ops_tables(seed, OPS_DOCS, OPS_EVENTS)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    return tables


def corpus_ops(ctx: Ctx) -> Outcome:
    """Every operator query of the suite, through the driver-contract entry
    point, collected in order; passes repeat while time remains."""
    import __spark_entry__ as entry

    from similardocs_spark.entry_queries_ops import OPS_QUERIES, OPS_SQL

    out = Outcome()
    tr = ctx.tracer
    queries = entry.queries()
    names = [n for n in OPS_QUERIES if n in queries]
    missing = sorted(set(OPS_FAMILY_OF) ^ set(names))
    if missing:
        raise RuntimeError(f"operator suite and family map disagree on {missing}")
    data_dir = os.path.join(ctx.workdir, "ops-data")
    tables = generate(out, lambda: write_ops_tables(ctx.seed, data_dir))
    t0 = perf_counter()
    queries["exact_dedup"](ctx.spark, data_dir).collect()  # warm-up
    out.setup_once = perf_counter() - t0

    passes: list[dict[str, float]] = []
    results: dict[str, object] = {}
    region = TimedRegion()
    while until(ctx.seconds, region.t0, len(passes)):
        walls: dict[str, float] = {}
        for name in names:
            with tr.request(f"p{len(passes)}:{name}"), tr.span(
                f"operators.{OPS_FAMILY_OF[name]}", query=name
            ):
                t0 = perf_counter()
                try:
                    df = queries[name](ctx.spark, data_dir)
                    rows = df.collect()
                    res = (df.columns, rows)
                except Exception as e:
                    res = e
                walls[name] = perf_counter() - t0
            out.latencies_ms.append(walls[name] * 1e3)
            results.setdefault(name, res)
            if isinstance(res, Exception):
                out.fail([f"{name}: {res!r}"])
        passes.append(walls)
    region.close(out)
    out.attempted = len(out.latencies_ms)
    out.throughput = out.attempted / out.timed_s

    import duckdb

    con = duckdb.connect()
    for tname, table in tables.items():
        con.register(tname, table)
    for name in names:
        res = results[name]
        if isinstance(res, Exception):
            continue
        cur = con.execute(OPS_SQL[name])
        out.fail(checks.table_mismatch(
            [tuple(r) for r in res[1]], res[0], cur.fetchall(),
            [d[0] for d in cur.description], name,
        ))
    con.close()

    out.detail = {"ops_wall_s": ("s", sum(passes[0].values()))}
    out.inputs = {"documents": OPS_DOCS, "events": OPS_EVENTS, "queries": len(names),
                  "passes": len(passes)}
    out.state = {"passes": passes, "data_dir": data_dir, "tables": tables}
    return out


WORKLOADS = {"serve": serve, "sweep": sweep, "ingest": ingest, "corpus_ops": corpus_ops}
