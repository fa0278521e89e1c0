"""Seeded input generators.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
as parquet with pyarrow, so the same seed always gives byte-identical
inputs and the engine under test only ever sees the generated files.
The shapes follow the engine's testdata schema: ``events`` (the
attribution source) and ``documents`` (the corpus source).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
#: users and rows of one sf0.1-sized replica of ``events``
BASE_USERS = 1500
BASE_EVENTS = 100_000
#: the event window: 30 days of January 2024, microsecond timestamps
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000

#: the corpus vocabulary: 30 common words plus the near-dup marker
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
N_SOURCES = 20
#: feed and query ids start here, far above every base doc id
FRESH_ID0 = 1_000_000_000
QUERY_ID0 = 2 * FRESH_ID0


@dataclass
class Table:
    """One generated parquet table and what it holds."""

    path: str
    rows: int
    bytes: int


@dataclass
class Generated:
    tables: dict[str, Table] = field(default_factory=dict)
    #: facts the output checks need (expected counts, texts)
    facts: dict = field(default_factory=dict)

    def add(self, name: str, path: str, table: pa.Table) -> None:
        pq.write_table(table, path)
        self.tables[name] = Table(path, table.num_rows, os.path.getsize(path))


def _events_table(ev: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(ev["event_id"], pa.int64()),
            "ts": pa.array(ev["ts"], pa.timestamp("us")),
            "user_id": pa.array(ev["user_id"], pa.int64()),
            "event_type": pa.array(ev["event_type"], pa.string()),
            "value": pa.array(ev["value"], pa.float64()),
            "props": pa.array(ev["props"], pa.string()),
        }
    )


def events(rng: np.random.Generator, replicas: int, base_events: int = BASE_EVENTS,
           base_users: int = BASE_USERS) -> dict[str, np.ndarray]:
    """One sf0.1-shaped replica of ``events``, repeated ``replicas``
    times with fresh event ids and fresh user ids per replica.

    Replication keeps each user's timeline shape (sessions per user,
    conversions per user) exactly as in one replica, so the work per
    user is fixed and only the number of users grows.
    """
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, base_events))
    user = rng.integers(0, base_users, base_events)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), base_events)]
    value = np.round(rng.exponential(50.0, base_events), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, base_events).astype(str)), "}"
    )
    n = base_events * replicas
    # fresh ids: each replica's users are a seeded permutation of their
    # own id block, and event ids are a seeded permutation of 0..n-1
    user_ids = np.concatenate(
        [r * base_users + rng.permutation(base_users)[user] for r in range(replicas)]
    )
    return {
        "event_id": rng.permutation(n).astype(np.int64),
        "ts": np.tile(ts, replicas),
        "user_id": user_ids.astype(np.int64),
        "event_type": np.tile(etype, replicas),
        "value": np.tile(value, replicas),
        "props": np.tile(props, replicas),
    }


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[rng.integers(0, len(VOCAB), n_words)])


def _docs_table(ids, texts, rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{int(i) % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def corpus(rng: np.random.Generator, n_base: int, n_feed: int,
           resend_frac: float = 0.2, infeed_dup_frac: float = 0.1,
           near_dup_frac: float = 0.1) -> dict:
    """A base corpus and a feed of ``n_feed`` new rows.

    The feed mixes fresh docs with three kinds of duplicate: exact
    re-sends of base docs under fresh ids, in-feed copies of the feed's
    own fresh docs, and near-duplicates of base docs (one extra word on
    a text of 61 words or more, a 3-shingle Jaccard of at least 0.98).
    Returns the texts and the fresh texts, which are exactly what the
    ingest should admit, so checks need no engine.
    """
    base_texts = [_text(rng, int(rng.integers(10, 101))) for _ in range(n_base)]
    seen = set(base_texts)
    long_base = [t for t in base_texts if t.count(" ") >= 60]
    n_resend = int(n_feed * resend_frac)
    n_dup = int(n_feed * infeed_dup_frac)
    n_near = int(n_feed * near_dup_frac)
    n_fresh = n_feed - n_resend - n_dup - n_near
    fresh: list[str] = []
    while len(fresh) < n_fresh:
        t = _text(rng, int(rng.integers(10, 101)))
        if t not in seen:
            seen.add(t)
            fresh.append(t)
    texts = (
        fresh
        + [base_texts[i] for i in rng.integers(0, n_base, n_resend)]
        + [fresh[i] for i in rng.integers(0, n_fresh, n_dup)]
        + [long_base[i] + " dup" for i in rng.integers(0, len(long_base), n_near)]
    )
    texts = [texts[i] for i in rng.permutation(n_feed)]
    return {"base_texts": base_texts, "feed_texts": texts, "fresh": set(fresh)}


def queries(rng: np.random.Generator, n: int, words: int = 8) -> list[str]:
    return [_text(rng, words) for _ in range(n)]


def attribution_inputs(out_dir: str, seed: int, replicas: int,
                       base_events: int = BASE_EVENTS,
                       base_users: int = BASE_USERS) -> Generated:
    rng = np.random.default_rng(seed)
    g = Generated()
    os.makedirs(out_dir, exist_ok=True)
    g.add("events", f"{out_dir}/events.parquet",
          _events_table(events(rng, replicas, base_events, base_users)))
    return g


def ingest_search_inputs(out_dir: str, seed: int, n_base: int, n_feed: int,
                         n_queries: int) -> Generated:
    """``base/documents.parquet``, ``feed/part-0.parquet`` (one
    micro-batch) and ``queries.parquet``."""
    rng = np.random.default_rng(seed)
    g = Generated()
    c = corpus(rng, n_base, n_feed)
    for d in ("base", "feed"):
        os.makedirs(f"{out_dir}/{d}", exist_ok=True)
    g.add("documents", f"{out_dir}/base/documents.parquet",
          _docs_table(range(n_base), c["base_texts"], rng))
    g.add("feed", f"{out_dir}/feed/part-0.parquet",
          _docs_table(range(FRESH_ID0, FRESH_ID0 + n_feed), c["feed_texts"], rng))
    q = queries(rng, n_queries)
    g.add("queries", f"{out_dir}/queries.parquet", pa.table({
        "query_id": pa.array(np.arange(n_queries) + QUERY_ID0, pa.int64()),
        "text": pa.array(q, pa.string()),
    }))
    g.facts = {"base_texts": set(c["base_texts"]), "admitted": c["fresh"]}
    return g
