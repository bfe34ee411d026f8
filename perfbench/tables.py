"""Seeded generator of the `events`, `documents` and `embeddings` tables the
operator suite reads, in the layout of the TPC-H-ish test tables the
declared queries were written against (see FIXTURES.md, section B).

`documents` holds near-duplicate families (a source text plus copies with one
or two words changed) so the dedup operators have groups to find.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en",) * 3 + ("zh", "es", "de", "fr")
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big filter group vector stream").split()
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400_000_000


def events(rng, n, users):
    ts = sorted(T0_US + rng.randrange(SPAN_US) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n)], pa.string()),
        "value": pa.array([rng.randrange(1, 49003) / 100 for _ in range(n)], pa.float64()),
        "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(n)], pa.string()),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if texts and rng.random() < 0.2:
            words = rng.choice(texts).split()
            for _ in range(rng.randrange(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(20, 40))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([rng.randrange(100, 500) for _ in range(n)], pa.int64()),
    })


def embeddings(rng, n, dim=64, clusters=10):
    centers = [[rng.gauss(0, 0.15) for _ in range(dim)] for _ in range(clusters)]
    labels = [rng.randrange(clusters) for _ in range(n)]
    vecs = [[c + rng.gauss(0, 0.05) for c in centers[k]] for k in labels]
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(seed, directory, n_events, n_docs, n_vecs):
    """Write the three tables as `<name>.parquet` under `directory`."""
    os.makedirs(directory, exist_ok=True)
    rng = random.Random(f"{seed}/tables")
    for name, table in (("events", events(rng, n_events, 150)),
                        ("documents", documents(rng, n_docs)),
                        ("embeddings", embeddings(rng, n_vecs))):
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
