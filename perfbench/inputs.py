"""Seeded input generators for the four workloads.

Everything here is pure Python driven by one ``random.Random(seed)`` per
input, so the same seed gives the same rows, queries, profiles and deltas,
and the oracles can be built from exactly the rows the program sees.
"""
from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np

from similardocs_spark.fixtures import (
    END_DAYS_AGO,
    PINNED_NOW,
    REFERENCE_QUERIES,
    SOURCES,
    VOCAB,
    Turn,
    docs_meta_for,
    make_transcripts,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
META_SCHEMA = "conv_id string, db string, instance string, update_date string"

# ---------------------------------------------------------------- serve

# (mode name, SearchEngine.search keyword arguments); serve cycles over these
SERVE_MODES: tuple[tuple[str, dict], ...] = (
    ("plain", {}),
    ("split_time", {"split_time": True}),
    ("sources", {"sources": {SOURCES[0], SOURCES[1]}}),
    ("instances", {"instances": {"i1"}}),
    ("last_days", {"last_days": 400}),
    ("max_docs", {"max_docs": 25}),
)
LADDER_MODES = ("split_time",)
FILTERED_MODES = ("sources", "instances", "last_days")


def multilingual(seed: int, n_convs: int) -> tuple[list[Turn], dict[str, dict[str, str]]]:
    """EN/ES/PT transcripts with accents, db/instance metadata and a
    1100-day spread (the repository's fixture generator)."""
    turns = make_transcripts(n_convs=n_convs, seed=seed)
    return turns, docs_meta_for(turns)


def serve_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """→ [(text, mode name)]: seeded VOCAB draws mixed with the reference
    profile queries, modes cycling in SERVE_MODES order."""
    rng = random.Random(seed * 7919 + 1)
    refs = sorted(REFERENCE_QUERIES.values())
    out = []
    for i in range(n):
        if i % 4 == 3:  # the same reference query at the same position for every seed
            text = refs[(i // 4) % len(refs)]
        else:
            text = " ".join(rng.choices(VOCAB, k=4))
        out.append((text, SERVE_MODES[i % len(SERVE_MODES)][0]))
    return out


def mode_kwargs(mode: str) -> dict:
    return dict(SERVE_MODES)[mode]


# ----------------------------------------------------------------- sweep


def zipf_word(rng: random.Random, vocab: int) -> str:
    """Word rank floor(vocab·u²): low ranks are frequent (the shape of
    the repository's JVM-side Zipf generator)."""
    return f"w{int(vocab * rng.random() ** 2)}"


def zipf_transcripts(
    seed: int, n_convs: int, turns_per_conv: int = 4, words_per_turn: int = 40,
    vocab: int = 50_000,
) -> list[Turn]:
    """ASCII-only transcripts over a ``vocab``-term Zipf vocabulary."""
    rng = random.Random(seed * 104729 + 2)
    turns = []
    for c in range(n_convs):
        conv_id = f"conv{c:09d}"
        base = PINNED_NOW - timedelta(days=END_DAYS_AGO + rng.randrange(900), hours=1)
        for t in range(turns_per_conv):
            text = " ".join(zipf_word(rng, vocab) for _ in range(words_per_turn))
            turns.append(Turn(conv_id, t, "user" if t % 2 == 0 else "assistant",
                              text, None, base + timedelta(minutes=5 * t)))
    return turns


def zipf_queries(seed: int, n: int, vocab: int = 50_000, words: int = 4) -> list[str]:
    """``n`` distinct query texts drawn from the corpus's own distribution."""
    rng = random.Random(seed * 15485863 + 3)
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault(" ".join(zipf_word(rng, vocab) for _ in range(words)))
    return list(seen)


@dataclass
class Profiles:
    entries: list[tuple[str, str, str]]  # (user, name, content)
    duplicate_share: float  # share of profiles whose content repeats an earlier one


def profiles(seed: int, n: int, duplicate_share: float, vocab: int = 50_000) -> Profiles:
    """``n`` profiles; a fixed share reuse an earlier profile's content, so
    the batch path's canonical dedup has work to do."""
    rng = random.Random(seed * 32452843 + 4)
    n_dup = int(round(n * duplicate_share))
    distinct = zipf_queries(seed + 1, n - n_dup, vocab)
    contents = distinct + [distinct[rng.randrange(len(distinct))] for _ in range(n_dup)]
    rng.shuffle(contents)
    entries = [(f"user{i % 16}", f"p{i:05d}", c) for i, c in enumerate(contents)]
    return Profiles(entries, n_dup / n)


# ---------------------------------------------------------------- ingest


@dataclass
class Delta:
    turns: list[Turn]
    meta: dict[str, dict[str, str]]
    expected: dict[str, int]  # {"inserts", "updates", "skips"}
    probe_text: str  # a query whose top hit must be probe_conv
    probe_conv: str


@dataclass
class CorpusState:
    """conv_id → (turns, meta) as the index should hold it; the oracle is
    rebuilt from this after the deltas."""

    turns: dict[str, list[Turn]] = field(default_factory=dict)
    meta: dict[str, dict[str, str]] = field(default_factory=dict)

    @classmethod
    def of(cls, turns: list[Turn], meta: dict[str, dict[str, str]]) -> "CorpusState":
        st = cls()
        for t in turns:
            st.turns.setdefault(t.conv_id, []).append(t)
        st.meta = {c: dict(m) for c, m in meta.items()}
        return st

    def all_turns(self) -> list[Turn]:
        return [t for c in sorted(self.turns) for t in self.turns[c]]


def _marker(d: int) -> str:
    """A six-letter token no generator emits (one per delta)."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    return "qz" + "".join(letters[(d // 26 ** i) % 26] for i in range(4))


def _fresh_turns(rng: random.Random, conv_id: str, last_ts, n_turns: int) -> list[Turn]:
    return [
        Turn(conv_id, t, ("user", "assistant")[t % 2],
             " ".join(rng.choices(VOCAB, k=rng.randint(3, 40))), None,
             last_ts - timedelta(minutes=5 * (n_turns - 1 - t)))
        for t in range(n_turns)
    ]


def make_delta(
    seed: int, d: int, state: CorpusState, n_new: int, n_upd: int, n_skip: int
) -> Delta:
    """Delta ``d``: new conversations (ids sort after every existing one, so
    the engine's appended docIDs equal the oracle's dense rank), newer-dated
    rewrites of existing ones, and older-dated rows that must be skipped.
    Applies itself to ``state``."""
    rng = random.Random((seed * 1_000_003 + d) * 31 + 5)
    newest = PINNED_NOW - timedelta(days=END_DAYS_AGO, hours=1)
    marker = _marker(d)
    existing = sorted(state.turns)
    # an update needs room for a strictly newer date below the window edge
    upd_pool = [c for c in existing if state.meta[c]["update_date"] < newest.strftime("%Y%m%d")]
    picked = rng.sample(upd_pool, n_upd + n_skip)
    upd, skip = picked[:n_upd], picked[n_upd:]
    turns: list[Turn] = []
    new_ids = [f"conv9{d:03d}{k:04d}" for k in range(n_new)]
    for conv_id in new_ids:
        last = newest - timedelta(days=rng.randrange(600), hours=rng.randrange(12))
        turns += _fresh_turns(rng, conv_id, last, rng.randint(1, 8))
    for conv_id in upd:
        old = state.meta[conv_id]["update_date"]
        span = (newest - _day(old)).days
        last = _day(old) + timedelta(days=rng.randint(1, span), hours=1)
        turns += _fresh_turns(rng, conv_id, min(last, newest), rng.randint(1, 8))
    for conv_id in skip:
        old = _day(state.meta[conv_id]["update_date"])
        last = old - timedelta(days=rng.randrange(0, 30)) + timedelta(hours=1)
        turns += _fresh_turns(rng, conv_id, last, rng.randint(1, 8))
    # the probe target carries the delta's marker as its first token
    target = new_ids[0] if new_ids else upd[0]
    first = next(i for i, t in enumerate(turns) if t.conv_id == target)
    t0 = turns[first]
    turns[first] = Turn(t0.conv_id, t0.turn_idx, t0.role, f"{marker} {t0.text}", t0.tool, t0.ts)
    meta = docs_meta_for(turns)
    by_conv: dict[str, list[Turn]] = {}
    for t in turns:
        by_conv.setdefault(t.conv_id, []).append(t)
    for conv_id in new_ids + upd:
        state.turns[conv_id] = by_conv[conv_id]
        state.meta[conv_id] = meta[conv_id]
    return Delta(
        turns, meta, {"inserts": n_new, "updates": n_upd, "skips": n_skip}, marker, target
    )


def _day(yyyymmdd: str):
    from datetime import datetime

    return datetime.strptime(yyyymmdd, "%Y%m%d")


# ------------------------------------------------------------ corpus_ops

OPS_WORDS = (
    "key value table scan merge batch window spark order data column customer "
    "query line sort stream hash group filter vector big small row fast slow "
    "part agg join the a"
).split()
OPS_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def ops_tables(seed: int, n_docs: int = 500, n_events: int = 2000, dim: int = 64) -> dict:
    """The three tables the operator suite reads, in the shape of the
    repository's test data: ``documents`` (word soup with ~5% near
    duplicates), ``embeddings`` (unit vectors around 10 labelled centres)
    and ``events`` (time-ordered clicks of 150 users). → {name: pyarrow.Table}."""
    import pyarrow as pa

    rng = random.Random(seed * 49979687 + 6)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(OPS_WORDS, k=rng.randint(8, 90))))
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [OPS_LANGS[rng.randrange(len(OPS_LANGS))] for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng(seed)
    centres = nrng.normal(size=(10, dim))
    labels = nrng.integers(0, 10, size=n_docs)
    vecs = centres[labels] + 0.6 * nrng.normal(size=(n_docs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    gaps = nrng.exponential(2 * 60 * 1e6, size=n_events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(nrng.integers(0, 150, size=n_events), pa.int64()),
        "event_type": pa.array(
            nrng.choice(["signup", "error", "click", "view", "purchase"], size=n_events)
        ),
        "value": pa.array(np.round(nrng.exponential(50.0, size=n_events) + 0.01, 2)),
        "props": [f'{{"k": {k}}}' for k in nrng.integers(0, 100, size=n_events)],
    })
    return {"documents": documents, "embeddings": embeddings, "events": events}
