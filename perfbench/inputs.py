"""Seeded benchmark inputs, written as parquet under the run's work dir.

Every input is a pure function of the workload seed, so two runs with the
same seed see byte-identical files. The program under test only ever sees
these files.
"""
from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def write_pages(rows: list[tuple], out_dir: str, n_files: int) -> None:
    """Split `rows` round-robin into `n_files` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        cols = list(zip(*part)) if part else [[]] * 5
        table = pa.Table.from_arrays(
            [pa.array(c, type=t.type) for c, t in zip(cols, PAGES_ARROW)],
            schema=PAGES_ARROW)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


# --- curation tables: same schemas and shape as the testdata generator -----

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10


def write_documents(seed: int, n: int, path: str) -> None:
    """`documents(doc_id, text, lang, source, n_chars)`: 10-100 words from
    a 30-word vocabulary; 5% of docs are another doc's text plus " dup"
    (near-duplicates for the dedup ops), and 0.2% are exact copies."""
    rng = random.Random(f"documents:{seed}")
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100)))
             for _ in range(n)]
    for i in range(n):
        roll = rng.random()
        if roll < 0.05:
            texts[i] = texts[rng.randrange(n)] + " dup"
        elif roll < 0.052:
            texts[i] = texts[rng.randrange(n)]
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def write_embeddings(seed: int, n: int, path: str) -> None:
    """`embeddings(vec_id, embedding float[64], label int)`: unit-norm
    Gaussian vectors with a uniform label."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    })
    pq.write_table(table, path)
