"""Seeded analytics tables in the schema of the engine's test tables
(``events``, ``documents``, ``embeddings``), at the row counts of its
sf0.1 set: 100k events over 1,500 users and 30 days (plus four
window-edge events, below), 5k documents,
2k 64-dimensional embeddings in 10 clusters. NumPy only, no Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
N_CLUSTERS = 10
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86400 * 1_000_000

# Two extra users, the same on every seed, whose event pairs sit a
# fraction of a second past a window edge: user N_USERS has a gap of
# 1800.5 s (past the 30-minute session gap), user N_USERS + 1 a gap of
# 3600.2 s (past the 1-hour trailing window). A sessionizer or trailing
# count that compares whole seconds gets both wrong on every seed, not
# only on the seeds whose random timestamps happen to straddle an edge.
EDGE_US = START_US + 86400 * 1_000_000
EDGE_EVENTS = [
    (N_USERS, EDGE_US),
    (N_USERS, EDGE_US + 1_800_500_000),
    (N_USERS + 1, EDGE_US + 500_000),
    (N_USERS + 1, EDGE_US + 3_600_700_000),
]


def events(rng: np.random.Generator) -> pa.Table:
    ts = np.sort(START_US + rng.integers(0, SPAN_US, N_EVENTS))
    users = rng.integers(0, N_USERS, N_EVENTS)
    ts = np.append(ts, [t for _u, t in EDGE_EVENTS])
    users = np.append(users, [u for u, _t in EDGE_EVENTS])
    n = len(ts)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator) -> pa.Table:
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if texts and r < 0.02:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        elif texts and r < 0.022:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # exact duplicate
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(0.0, 0.12, (N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = (centers[label] + rng.normal(0.0, 0.06, (N_VECS, DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
