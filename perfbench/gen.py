"""Seeded input generator for the serving benchmark.

Everything the engine sees is written here as parquet, from one seed:

- ``embeddings.parquet``: the corpus, ``(vec_id BIGINT, embedding
  ARRAY<FLOAT>, label INT)``, drawn from a Gaussian mixture whose
  component index is ``label``.
- ``documents.parquet``: ``(doc_id BIGINT, text STRING)`` with
  ``doc_id = vec_id`` and 200-4,000 characters of text.
- ``queries.parquet``: held-out vectors from the same mixture, ids
  disjoint from the corpus.
- ``appends.parquet``: fresh vectors for ``append_to_index``, tagged
  with their ``batch`` number, ids after the corpus's.

Each artifact draws from its own child of one ``SeedSequence``, so the
same seed gives byte-identical files and changing one artifact's size
leaves the others unchanged. The NumPy arrays are returned as well, so
the oracle never reads back what the engine may have touched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 384
COMPONENTS = 128
CORPUS_ROWS = 5_000
QUERY_ROWS = 512
APPEND_BATCHES = 8
APPEND_ROWS = 100
DOC_CHARS = (200, 4_000)
# ~1,000-row row groups (about 1.5 MB): a 7.7 MB single-row-group file
# would reach one Spark task no matter how many cores there are.
ROW_GROUP_ROWS = 1_000

_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype=np.uint8)


@dataclass
class Inputs:
    """The generated arrays; ``dir`` holds their parquet form."""

    dir: str
    seed: int
    corpus: np.ndarray  # (CORPUS_ROWS, DIM) float32
    labels: np.ndarray  # (CORPUS_ROWS,) int32
    queries: np.ndarray  # (QUERY_ROWS, DIM) float32
    appends: np.ndarray  # (APPEND_BATCHES, APPEND_ROWS, DIM) float32
    texts: list[str]  # document text by doc_id

    @property
    def corpus_ids(self) -> np.ndarray:
        return np.arange(CORPUS_ROWS, dtype=np.int64)

    def append_ids(self, batch: int) -> np.ndarray:
        start = CORPUS_ROWS + QUERY_ROWS + batch * APPEND_ROWS
        return np.arange(start, start + APPEND_ROWS, dtype=np.int64)

    @property
    def query_ids(self) -> np.ndarray:
        return np.arange(CORPUS_ROWS, CORPUS_ROWS + QUERY_ROWS, dtype=np.int64)


def _mixture(rng: np.random.Generator):
    """Component means, weights and per-component spreads."""
    means = rng.standard_normal((COMPONENTS, DIM))
    means /= np.linalg.norm(means, axis=1, keepdims=True)
    weights = rng.dirichlet(np.full(COMPONENTS, 4.0))
    spread = rng.uniform(0.5, 1.0, COMPONENTS)
    return means, weights, spread


def _draw(rng: np.random.Generator, n: int, means, weights, spread):
    labels = rng.choice(COMPONENTS, size=n, p=weights).astype(np.int32)
    noise = rng.standard_normal((n, DIM)) * (spread[labels] / np.sqrt(DIM))[:, None]
    return (means[labels] + noise).astype(np.float32), labels


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(DOC_CHARS[0], DOC_CHARS[1] + 1, size=n)
    buf = _ALPHABET[rng.integers(0, len(_ALPHABET), size=int(lengths.sum()))].tobytes()
    ends = np.cumsum(lengths)
    return [buf[e - l : e].decode("ascii") for e, l in zip(ends.tolist(), lengths.tolist())]


def _vec_table(ids: np.ndarray, vecs: np.ndarray, **cols) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb, **cols})


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def generate(seed: int, out_dir: str) -> Inputs:
    """Write the four parquet inputs for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    mix_ss, corpus_ss, doc_ss, query_ss, append_ss = np.random.SeedSequence(seed).spawn(5)
    means, weights, spread = _mixture(np.random.default_rng(mix_ss))

    corpus, labels = _draw(np.random.default_rng(corpus_ss), CORPUS_ROWS, means, weights, spread)
    queries, q_labels = _draw(np.random.default_rng(query_ss), QUERY_ROWS, means, weights, spread)
    append_rng = np.random.default_rng(append_ss)
    appends, a_labels = _draw(append_rng, APPEND_BATCHES * APPEND_ROWS, means, weights, spread)
    inputs = Inputs(
        dir=out_dir,
        seed=seed,
        corpus=corpus,
        labels=labels,
        queries=queries,
        appends=appends.reshape(APPEND_BATCHES, APPEND_ROWS, DIM),
        texts=_texts(np.random.default_rng(doc_ss), CORPUS_ROWS),
    )

    _write(
        _vec_table(inputs.corpus_ids, corpus, label=pa.array(labels, pa.int32())),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    _write(
        pa.table(
            {
                "doc_id": pa.array(inputs.corpus_ids, pa.int64()),
                "text": pa.array(inputs.texts),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    _write(
        _vec_table(inputs.query_ids, queries, label=pa.array(q_labels, pa.int32())),
        os.path.join(out_dir, "queries.parquet"),
    )
    append_ids = np.concatenate([inputs.append_ids(b) for b in range(APPEND_BATCHES)])
    _write(
        _vec_table(
            append_ids,
            appends,
            label=pa.array(a_labels, pa.int32()),
            batch=pa.array(np.repeat(np.arange(APPEND_BATCHES, dtype=np.int32), APPEND_ROWS)),
        ),
        os.path.join(out_dir, "appends.parquet"),
    )
    return inputs
