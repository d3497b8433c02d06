"""Seeded input generators for the benchmark.

The tables take the shape of the engine's sf0.1 test data: every
constant below was measured on the sf0.1 ``events`` and ``documents``
parquet files (``README.md`` in this directory lists the figures and
how they were measured). One departure is deliberate: the corpus has
1250 documents, a quarter of sf0.1's 5000, so that the benchmark's
runs of ``corpus_batch``, each with three cold set-ups, fit its time
budget. Sizes and distributions are fixed; the seed only picks the
values, so every seed asks the engine for the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1500  # user_id uniform over 0..1499
N_DOCS = 1250
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")  # uniform
# 2024-01-01T00:00:00Z in epoch microseconds.
EPOCH_US = 1_704_067_200_000_000
MEAN_GAP_US = 25_920_000  # exponential gaps: 100k events over 30 days
MEAN_VALUE = 50.0  # exponential, rounded to cents
N_PROPS = 100  # props is {"k": <0..99>}
EXACT_DUP_SHARE = 0.0016  # documents whose text repeats an earlier one
NEAR_DUP_SHARE = 0.05  # documents that are an earlier text plus " dup"
MIN_WORDS, MAX_WORDS = 10, 99  # before a near copy's " dup"
VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def events_table(seed: int) -> pa.Table:
    """Clickstream events sorted by time, ``event_id`` in time order."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(MEAN_GAP_US, N_EVENTS).astype(np.int64) + 1
    ts = EPOCH_US + np.cumsum(gaps)
    kinds = rng.integers(0, len(EVENT_TYPES), N_EVENTS)
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
            "event_type": pa.array([EVENT_TYPES[k] for k in kinds]),
            "value": pa.array(np.round(rng.exponential(MEAN_VALUE, N_EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, N_EVENTS)]
            ),
        }
    )


def documents_table(seed: int) -> pa.Table:
    """Documents with exact and near copies of earlier documents."""
    rng = np.random.default_rng(seed + 1)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[k] for k in langs]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_table(table: pa.Table, sf_dir: str, name: str) -> str:
    """Write ``table`` as ``<sf_dir>/<name>.parquet``, the layout
    ``catalog.load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path
