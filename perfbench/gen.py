"""Seeded input generators and the benchmark's own ground truth.

Everything here is plain numpy/pyarrow: the engine never sees anything but
the Parquet files these functions write, and no truth the benchmark checks
against comes from the engine.

- ``vector_corpus``: a corpus of ``n`` x ``dim`` float32 embeddings around
  50 latent clusters, plus a held-out query pool drawn from the same
  clusters (ids ``n .. n + n_queries - 1``).
- ``doc_corpus``: Zipf-vocabulary documents across 8 sources, a slice of
  digit/punctuation junk the quality filter must drop, and planted
  near-copies of every 3rd base document with 1 to 6 token edits, so some
  planted pairs sit above the 0.8 Jaccard threshold and some below it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CLUSTERS = 50
N_SOURCES = 8
COPY_EVERY = 3
SHINGLE = 3
STOPWORDS = "the a an and or of to in on for is are was as by with at from it this that".split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one input never shifts
    # the bytes of another
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ----------------------------------------------------------------- vectors


@dataclass
class Vectors:
    corpus: np.ndarray  # (n, dim) float32, row i has vec_id i
    queries: np.ndarray  # (n_queries, dim) float32, row j has vec_id n + j

    @property
    def query_ids(self) -> np.ndarray:
        return np.arange(len(self.corpus), len(self.corpus) + len(self.queries), dtype=np.int64)


def vector_corpus(seed: int, n: int, n_queries: int, dim: int = 300) -> Vectors:
    """Each cluster is a center plus a random 16-dimensional subspace, so
    neighbours are structured the way real embeddings are, not the near-
    equidistant points of isotropic 300-d noise."""
    rng = _rng(seed, "vectors")
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, dim))
    bases = rng.normal(0.0, 0.25, (N_CLUSTERS, 16, dim))
    total = n + n_queries
    labels = rng.integers(0, N_CLUSTERS, total)
    latent = rng.normal(0.0, 1.0, (total, 16))
    x = centers[labels] + np.einsum("nk,nkd->nd", latent, bases[labels])
    x += rng.normal(0.0, 0.05, x.shape)
    x = x.astype(np.float32)
    return Vectors(corpus=x[:n], queries=x[n:])


def write_vectors(v: Vectors, corpus_path: str, queries_path: str) -> None:
    dim = v.corpus.shape[1]
    for mat, ids, path in (
        (v.corpus, np.arange(len(v.corpus), dtype=np.int64), corpus_path),
        (v.queries, v.query_ids, queries_path),
    ):
        emb = pa.FixedSizeListArray.from_arrays(pa.array(mat.reshape(-1)), dim).cast(
            pa.list_(pa.float32())
        )
        _write(pa.table({"vec_id": pa.array(ids), "embedding": emb}), path)


def sq_dists(corpus: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared euclidean distance of one query to every corpus row, in f64."""
    diff = corpus.astype(np.float64) - q.astype(np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Numpy exact top-k per query, ascending distance, ties by ascending id.
    Returns (ids, dists), each (n_queries, k)."""
    ids = np.empty((len(queries), k), dtype=np.int64)
    dists = np.empty((len(queries), k), dtype=np.float64)
    order_ids = np.arange(len(corpus))
    for i, q in enumerate(queries):
        d = sq_dists(corpus, q)
        top = np.lexsort((order_ids, d))[:k]
        ids[i], dists[i] = top, d[top]
    return ids, dists


# -------------------------------------------------------------------- docs


@dataclass
class Docs:
    text: list[str]
    source: list[str]
    junk: np.ndarray  # bool per doc: built to fail the quality filter
    planted: list[tuple[int, int]]  # (base doc id, copy doc id)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    syll = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(syll, int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def doc_corpus(seed: int, n_base: int, vocab: int = 4000) -> Docs:
    rng = _rng(seed, "docs")
    words = np.array(_vocabulary(rng, vocab))
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.1
    zipf /= zipf.sum()
    text, source = [], []
    junk = rng.random(n_base) < 0.05
    for i in range(n_base):
        n_tok = int(rng.integers(40, 80))
        if junk[i]:
            toks = [str(int(t)) + "!?" for t in rng.integers(0, 10**6, n_tok)]
        else:
            toks = list(rng.choice(words, n_tok, p=zipf))
        text.append(" ".join(toks))
        source.append(f"src{int(rng.integers(0, N_SOURCES))}")
    planted = []
    for base in range(0, n_base, COPY_EVERY):
        toks = text[base].split(" ")
        n_edit = int(rng.choice([1, 1, 2, 3, 6]))
        for pos in rng.choice(len(toks), n_edit, replace=False):
            toks[pos] = str(rng.choice(words, p=zipf)) if not junk[base] else "0!?"
        planted.append((base, len(text)))
        text.append(" ".join(toks))
        source.append(f"src{int(rng.integers(0, N_SOURCES))}")
    junk = np.concatenate([junk, junk[[b for b, _ in planted]]])
    return Docs(text=text, source=source, junk=junk, planted=planted)


def write_docs(d: Docs, path: str) -> None:
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(d.text), dtype=np.int64)),
                "source": pa.array(d.source),
                "text": pa.array(d.text),
            }
        ),
        path,
    )


def shingles(text: str, n: int = SHINGLE) -> set[str]:
    """Distinct lower-cased whitespace n-token shingles; a text shorter than
    n tokens is one shingle of all its tokens (the engine's definition)."""
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)
