"""Seeded input tables with the make-up of the sf0.1 testdata.

The benchmark runs in a checkout that holds no testdata, so it writes its
own `events`, `documents` and `embeddings` parquet files, one per table, in
the layout `sources.tables.load_table` reads (`<dir>/<name>.parquet`):

- events: 100,000 rows (event_id, ts, user_id, event_type, value, props),
  ts ascending over 2024-01-01..30 at microsecond precision, five event
  types in equal shares, props a one-key JSON payload;
- documents: 5,000 rows (doc_id, text, lang, source, n_chars) over a
  31-word vocabulary, 10-100 words each;
- embeddings: 2,000 unit-norm 64-d float32 vectors (vec_id, embedding,
  label) around ten weak class centres.

The tables are a pure function of `seed`. The benchmark always writes them
with DATA_SEED, so every run measures the same tables and only the
operation sequence follows the workload seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
T_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
T_SPAN_US = 30 * 86_400 * 1_000_000


def events_table(rng: np.random.Generator) -> pa.Table:
    ts = np.sort(T_START_US + rng.integers(0, T_SPAN_US, N_EVENTS))
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]
    value = np.round(rng.exponential(50.0, N_EVENTS), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
            "event_type": pa.array(types.tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )


def documents_table(rng: np.random.Generator) -> pa.Table:
    texts = []
    for _ in range(N_DOCS):
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    langs = np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centres = rng.normal(0.0, 1.0, (10, DIM))
    x = rng.normal(0.0, 1.0, (N_VECS, DIM)) + 0.6 * centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


MAKERS = {"events": events_table, "documents": documents_table, "embeddings": embeddings_table}
TABLES_OF = {
    "memory_session": ("events",),
    "rag_session": ("documents", "embeddings"),
}


def write_tables(out_dir: str, names=tuple(MAKERS), seed: int = DATA_SEED) -> None:
    """Write the named tables under `out_dir` (created if missing). Each
    table has its own generator stream, so a table's rows do not depend on
    which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    for n, name in enumerate(MAKERS):
        if name in names:
            rng = np.random.default_rng([seed, n])
            pq.write_table(MAKERS[name](rng), os.path.join(out_dir, f"{name}.parquet"))
