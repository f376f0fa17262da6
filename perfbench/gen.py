"""Seeded input generators for the benchmark workloads.

Both generators are pure functions of their arguments: the same seed and
sizes give byte-identical parquet files. They write wherever the caller
points them (the benchmark uses a work directory inside its checkout).

* ``write_events`` produces ``events.parquet`` with the schema of the
  engine's fixture tables (event_id, ts, user_id, event_type, value,
  props). ``event_id`` is dense and 0-based, the contract the engine's
  closed-form line numbering relies on.
* ``write_documents`` produces ``documents.parquet`` (doc_id, text,
  lang, source, n_chars) with a Zipf vocabulary and a seeded share of
  near-duplicates: each one copies an earlier base document and edits a
  few of its tokens, so MinHash-LSH finds it as a candidate and Jaccard
  verification mostly keeps it.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "fr", "es"])
N_SOURCES = 8
ZIPF_S = 1.1  # exponent of the documents' Zipf token law
EDITS = 2  # tokens a near-duplicate changes in its base document


def write_events(out_dir: Path, n_events: int, seed: int) -> Path:
    """Write ``out_dir/events.parquet`` with ``n_events`` rows."""
    rng = np.random.default_rng(seed)
    gaps_us = rng.exponential(2_000_000.0, n_events).astype(np.int64) + 1
    ts_us = np.int64(1_704_067_200_000_000) + np.cumsum(gaps_us)  # from 2024-01-01
    kinds = rng.integers(0, 100, n_events)
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 50, 1), n_events)),
        "event_type": pa.array(EVENT_TYPES[kinds % len(EVENT_TYPES)]),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in kinds.tolist()]),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "events.parquet"
    pq.write_table(table, path)
    return path


def write_documents(out_dir: Path, n_docs: int, seed: int, *, vocab: int = 5000,
                    min_len: int = 20, max_len: int = 120,
                    near_dup_share: float = 0.1) -> Path:
    """Write ``out_dir/documents.parquet`` with ``n_docs`` rows.

    Token ranks follow a Zipf law with exponent ``ZIPF_S`` over ``vocab``
    words; lengths are uniform in [min_len, max_len]. A
    ``near_dup_share`` fraction of the documents (never the first) copy
    an earlier non-duplicate document and replace ``EDITS`` tokens."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    lengths = rng.integers(min_len, max_len + 1, n_docs)
    is_dup = rng.random(n_docs) < near_dup_share
    is_dup[0] = False
    toks: list[np.ndarray] = []
    bases: list[int] = []
    for i in range(n_docs):
        if is_dup[i]:
            src = toks[bases[int(rng.integers(0, len(bases)))]].copy()
            pos = rng.integers(0, len(src), EDITS)
            src[pos] = rng.choice(vocab, EDITS, p=p)
            toks.append(src)
        else:
            toks.append(rng.choice(vocab, int(lengths[i]), p=p))
            bases.append(i)
    texts = [" ".join(words[t].tolist()) for t in toks]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "documents.parquet"
    pq.write_table(table, path)
    return path
