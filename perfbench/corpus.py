"""Seeded `documents` and `embeddings` tables for the corpus queries, and
the value comparison of a query's output with its DuckDB oracle.

The tables follow the shape of the registry's TESTDATA (see TESTDATA.md):
documents are bags of words from one small vocabulary, about one in twenty
is an earlier document's text plus " dup" (the near-duplicates the dedup
queries look for); embeddings are 64-dimensional unit vectors with one of
ten labels. They are written as parquet files, which is how the registry
queries read their tables (``sources.tables.load_table``).
"""

from __future__ import annotations

import math
import random
from pathlib import Path

N_DOCUMENTS = 1000
N_EMBEDDINGS = 400
EMBEDDING_DIM = 64
N_LABELS = 10
N_SOURCES = 20
DUP_SHARE = 0.05
WORDS_PER_DOC = (8, 100)
VOCABULARY = ("spark", "window", "merge", "table", "column", "vector", "stream", "value",
              "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
              "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
              "a", "scan", "batch")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def make_documents(rng: random.Random) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows."""
    texts: list[str] = []
    for _ in range(N_DOCUMENTS):
        if texts and rng.random() < DUP_SHARE:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCABULARY) for _ in range(rng.randint(*WORDS_PER_DOC))))
    return [(i, t, rng.choice(LANGS), f"src{i % N_SOURCES}", len(t)) for i, t in enumerate(texts)]


def make_embeddings(rng: random.Random) -> list[tuple]:
    """(vec_id, embedding, label) rows; embeddings are float32 unit vectors."""
    import numpy as np

    rows = []
    for i in range(N_EMBEDDINGS):
        v = np.array([rng.gauss(0.0, 1.0) for _ in range(EMBEDDING_DIM)], dtype=np.float32)
        rows.append((i, (v / np.linalg.norm(v)).tolist(), rng.randrange(N_LABELS)))
    return rows


def write_corpus(seed: int, out: Path) -> Path:
    """Write documents.parquet and embeddings.parquet for `seed` into `out`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"{seed}/corpus")
    out.mkdir(parents=True, exist_ok=True)
    doc_id, text, lang, source, n_chars = zip(*make_documents(rng))
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_id, pa.int64()), "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()), "source": pa.array(source, pa.string()),
        "n_chars": pa.array(n_chars, pa.int64()),
    }), out / "documents.parquet")
    vec_id, embedding, label = zip(*make_embeddings(rng))
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_id, pa.int64()),
        "embedding": pa.array(embedding, pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), out / "embeddings.parquet")
    return out


def _norm(v) -> str:
    """One value as text, the same for a Spark row value and a DuckDB
    (pandas) one: NULL and NaN read alike, floats by repr, numpy scalars as
    their Python values."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> list[str]:
    """Rows as sorted text lines with columns in name order, so two results
    compare equal exactly when they hold the same values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def same_result(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> str | None:
    """None when the two results match, else why they differ."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    if not rows:
        return "no rows (a vacuous match)"
    if canonical(cols, rows) != canonical(ocols, orows):
        return "values differ from the oracle"
    return None
