"""Seeded input generator for the benchmark.

Writes the three input tables the program reads -- `events`,
`documents` and `embeddings` -- as single parquet files with the same
schemas as the repository's sf test data (TESTDATA.md). The same seed
gives byte-identical files; another seed gives files of the same size
and shape with other values.

Shape (mirrors the sf0.1 test data, scaled down):
  * events: one row per transcript turn. Users are Zipf-skewed, so a
    few users own mega-conversations (the corpus derives conv_id from
    user_id). Every `purchase` turn mentions the celebrity entity and
    `signup`/`error` turns carry the near-duplicate alias tail; both
    come from the corpus templates, so any events table has them.
  * documents: words from a fixed 30-word vocabulary, 10-100 words,
    about 5% exact duplicate pairs (text ending in ' dup').
  * embeddings: 64-dim unit vectors clustered around 10 label centroids.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
N_LABELS = 10
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000  # events cover 30 days


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed codec: the bytes depend only on the values
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(table.num_rows, 1))


def events_table(rng: np.random.Generator, n: int, first_id: int = 0,
                 n_users: int | None = None,
                 first_user: int = 0) -> pa.Table:
    """`n` events with ids first_id.. and Zipf-skewed users
    first_user..first_user+n_users-1."""
    n_users = n_users or max(15, n // 66)
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.1
    user = rng.choice(n_users, size=n, p=p / p.sum()) + first_user
    # the hot users get shuffled ids, so the skew is not id-ordered
    perm = rng.permutation(n_users)
    user = perm[user - first_user] + first_user
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, size=n))
    etype = rng.choice(len(EVENT_TYPES), size=n)
    value = np.round(rng.exponential(50.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        words = rng.choice(len(VOCAB), size=int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    # ~5% exact duplicate pairs: the source and its copy both end in 'dup'
    n_dup = n // 20
    src = rng.choice(n // 2, size=n_dup, replace=False)
    dst = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    for s, d in zip(src, dst):
        texts[s] = texts[s] + " dup"
        texts[d] = texts[s]
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    source = rng.integers(0, 20, size=n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{int(s)}" for s in source], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMB_DIM))
    label = rng.integers(0, N_LABELS, size=n)
    x = centroids[label] + 1.5 * rng.normal(size=(n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def generate(out_dir: str, seed: int, n_events: int, n_docs: int = 0,
             n_emb: int = 0, increments: int = 0,
             increment_events: int = 0) -> dict:
    """Write the inputs for one run under out_dir and return the manifest
    (also written as manifest.json).

    Layout: out_dir/base/{events,documents,embeddings}.parquet and, for
    the ingest increments, out_dir/inc/<i>/events.parquet. Increments
    continue the event-id sequence and belong to new users, so their
    conversations are new."""
    rng = np.random.default_rng(seed)
    base = os.path.join(out_dir, "base")
    os.makedirs(base, exist_ok=True)
    rows = {}
    if n_events:
        _write(events_table(rng, n_events),
               os.path.join(base, "events.parquet"))
        rows["events"] = n_events
    if n_docs:
        _write(documents_table(rng, n_docs),
               os.path.join(base, "documents.parquet"))
        rows["documents"] = n_docs
    if n_emb:
        _write(embeddings_table(rng, n_emb),
               os.path.join(base, "embeddings.parquet"))
        rows["embeddings"] = n_emb
    inc_dirs = []
    users = max(15, n_events // 66)
    for i in range(increments):
        d = os.path.join(out_dir, "inc", str(i))
        os.makedirs(d, exist_ok=True)
        first_id = n_events + i * increment_events
        first_user = users + i * max(15, increment_events // 66)
        _write(events_table(rng, increment_events, first_id=first_id,
                            first_user=first_user),
               os.path.join(d, "events.parquet"))
        inc_dirs.append(d)
    manifest = {"seed": seed, "rows": rows, "increments": increments,
                "increment_events": increment_events}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    manifest["base_dir"] = base
    manifest["inc_dirs"] = inc_dirs
    return manifest
