"""Seeded input generators for the benchmark workloads.

Every input the engine reads is written here, before the engine's
process starts, as parquet under the run's work directory. The same
seed always gives byte-identical tables; another seed gives other
contents with the same shape.

- ``documents`` / ``embeddings`` follow the shapes of the engine's
  fixture tables (a 30-word vocabulary with 5% " dup" near-copies;
  unit-norm 64-dim float vectors with a 10-class label).
- ``curation_corpus`` is the 4-class generator of
  ``tools/pipeline_stress.py`` (English near-dup trios, exact
  triplicates, German, junk), with the trio words drawn from the seed
  instead of a fixed hash.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
N_SOURCES = 20
DUP_FRACTION = 0.05
EMBED_DIM = 64
N_LABELS = 10


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def documents(seed: int, n_docs: int) -> pa.Table:
    """DataFrame-shaped ``documents`` table: doc_id, text, lang, source,
    n_chars. 5% of the documents copy another document's text and
    append " dup", so the near-duplicate graph is never empty."""
    rng = _rng(seed, 1)
    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    n_dup = max(1, int(n_docs * DUP_FRACTION))
    dups = rng.choice(n_docs, size=n_dup, replace=False)
    for i in dups:
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[k] for k in rng.integers(0, len(LANGS), n_docs)],
                pa.string(),
            ),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, N_SOURCES, n_docs)],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    """``embeddings`` table: vec_id, embedding (unit-norm float32[64]),
    label."""
    rng = _rng(seed, 2)
    x = rng.standard_normal((n_vecs, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * EMBED_DIM, EMBED_DIM),
                       pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, N_LABELS, n_vecs), pa.int32()),
        }
    )


def curation_corpus(seed: int, n_docs: int) -> pa.Table:
    """The composed-pipeline corpus: doc_id, text.

    By ``doc_id % 100``: 0-69 English near-dup trios (the three docs of
    trio ``doc_id // 3`` differ only in their last token), 70-79 exact
    copies of their trio's text, 80-89 German, 90-99 junk. Five
    5-letter words per trio come from the seed."""
    rng = _rng(seed, 3)
    n_trios = n_docs // 3 + 1
    letters = rng.integers(97, 123, size=(n_trios * 5, 5), dtype=np.uint8)
    words = [w.decode() for w in letters.view("S5").reshape(-1)]
    texts = []
    for i in range(n_docs):
        w = words[(i // 3) * 5 : (i // 3) * 5 + 5]
        bucket = i % 100
        if bucket < 80:
            tail = f"tail{i % 3}" if bucket < 70 else "tail0"
            texts.append(
                f"the {w[0]} of {w[1]} and {w[2]} to {w[3]} a {w[4]} {tail}"
            )
        elif bucket < 90:
            texts.append(f"der {w[0]} die {w[1]} und {w[2]} ist {w[3]}")
        else:
            texts.append("zq zq zq zq zq zq")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """One file at ``path``, or ``n_files`` row-contiguous part files
    in the directory ``path``, so the scan has several input splits."""
    if n_files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet")
        )
