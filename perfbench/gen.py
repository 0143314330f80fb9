"""Seeded table generator for the benchmark.

The benchmark reads nothing outside its checkout, so it cannot read the
repository's fixtures (TESTDATA.md); this writes tables with their schema
and distribution, one parquet file per table:

- documents(doc_id, text, lang, source, n_chars): texts of 10..100 words
  (uniform) drawn from the fixture's 30-word vocabulary; 5% are
  near-duplicates (an earlier document with " dup" appended) and 0.16%
  exact duplicates, the planted structure the dedup layer and the flow's
  recall@10 eval set key on; the fixture's language mix and 20 sources;
- embeddings(vec_id, embedding[64], label): isotropic unit vectors, 10
  labels;
- events(event_id, ts, user_id, event_type, value, props): one month of
  events ordered by time, 5 event types, exponential values (mean 50).

At the sf0.1 sizes (5,000 documents, 2,000 embeddings, 100,000 events,
1,500 users) the flow indexes 8,530 passages and builds 257 eval queries
here, against 8,381 and 249 on the sf0.1 fixture (README.md).

The same seed and sizes always give byte-identical tables.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, max(1, n * 16 // 10000)
    # each planted copy gets a distinct source that is itself original
    slots = ids[:n_near + n_exact]
    sources = ids[n_near + n_exact:2 * (n_near + n_exact)]
    for k, (dst, src) in enumerate(zip(slots, sources)):
        texts[dst] = texts[src] + (" dup" if k < n_near else "")
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng, n, users):
    start = int(datetime.datetime(2024, 1, 1).timestamp() * 1_000_000)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out_dir, seed, docs, vecs, evts, users):
    """Write the tables for `seed` into `out_dir` (skipped when present)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, docs, vecs, evts])
    tables = {"documents": documents(rng, docs)}
    if vecs:
        tables["embeddings"] = embeddings(rng, vecs)
    if evts:
        tables["events"] = events(rng, evts, users)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
