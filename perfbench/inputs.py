"""Seeded input generators. Every input the engine sees is made here from
the workload seed: ``sources.synth`` crawl corpora, crawl-length documents
with planted exact and near copies, and planted vector clusters."""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from supercrawler_spark.sources import synth

NUM_BUCKETS = 32


def crawl_corpus(n_pages: int, seed: int, with_goldens: bool,
                 workers: int = 1) -> synth.Corpus:
    """``n_pages`` synthetic pages (synth maps 0.001 scale to 500 pages).
    ``workers`` > 1 forks a process pool: call it before any thread (the
    Spark gateway) is running."""
    return synth.generate_corpus(n_pages * 0.001 / 500, seed=seed,
                                 with_goldens=with_goldens, workers=workers)


def is_html(page: synth.SynthPage) -> bool:
    return "text/html" in page.content_type


@dataclass
class CorpusDocs:
    rows: list[tuple[int, str]]     # (doc_id, text), input order
    exact_copies: list[int]         # ids that repeat an earlier text verbatim
    near_copies: list[int]          # ids with a few tokens edited


def corpus_docs(corpus: synth.Corpus, n_base: int, n_exact: int,
                n_near: int, seed: int, edits: int = 3) -> CorpusDocs:
    """Crawl-length documents: the golden MDX of the first ``n_base`` html
    pages, then ``n_exact`` verbatim copies and ``n_near`` copies with
    ``edits`` tokens replaced, each of a distinct seeded base doc."""
    base = [p.text for p in corpus.pages if is_html(p) and p.text.strip()]
    if len(base) < n_base:
        raise ValueError(f"corpus has {len(base)} html docs < {n_base}")
    base = base[:n_base]
    rng = random.Random(seed)
    picks = rng.sample(range(n_base), n_exact + n_near)
    rows = list(enumerate(base))
    exact, near = [], []
    for j in picks[:n_exact]:
        exact.append(len(rows))
        rows.append((len(rows), base[j]))
    for j in picks[n_exact:]:
        toks = base[j].split(" ")
        for e in range(edits):
            pos = len(toks) // 2 + 7 * e
            toks[pos] = f"edited{e}"
        near.append(len(rows))
        rows.append((len(rows), " ".join(toks)))
    return CorpusDocs(rows, exact, near)


def write_docs(docs: CorpusDocs, path: str) -> str:
    pq.write_table(pa.table({"doc_id": [r[0] for r in docs.rows],
                             "text": [r[1] for r in docs.rows]}), path)
    return path


@dataclass
class Vectors:
    vecs: np.ndarray          # (n, dim) float64; row i has vec_id i
    per_center: int           # members per planted center
    query_ids: list[int]

    def mates(self, vec_id: int) -> set[int]:
        """The other members of ``vec_id``'s planted center."""
        c = vec_id // self.per_center
        lo = c * self.per_center
        return set(range(lo, lo + self.per_center)) - {vec_id}


def planted_vectors(n_centers: int, per_center: int, dim: int,
                    n_queries: int, seed: int, eps: float = 0.05) -> Vectors:
    """``n_centers`` uniform centers in [-1, 1]^dim, each with
    ``per_center`` members jittered by ±eps per coordinate. With
    per_center = k + 1, a member's exact top-k is its planted mates."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-1.0, 1.0, (n_centers, dim))
    vecs = (np.repeat(centers, per_center, axis=0)
            + eps * rng.uniform(-1.0, 1.0, (n_centers * per_center, dim)))
    qc = rng.choice(n_centers, size=n_queries, replace=False)
    qm = rng.integers(0, per_center, size=n_queries)
    query_ids = sorted(int(c * per_center + m) for c, m in zip(qc, qm))
    return Vectors(vecs, per_center, query_ids)


def write_vectors(v: Vectors, path: str) -> str:
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.vecs.ravel()), v.vecs.shape[1]).cast(
        pa.list_(pa.float64()))
    pq.write_table(pa.table({"vec_id": pa.array(np.arange(len(v.vecs)),
                                                pa.int64()),
                             "embedding": emb}), path)
    return path


def exact_topk(v: Vectors, k: int) -> dict[int, set[int]]:
    """Brute-force squared-L2 top-k per query, self excluded, ties by id."""
    out = {}
    for q in v.query_ids:
        d2 = ((v.vecs - v.vecs[q]) ** 2).sum(axis=1)
        d2[q] = np.inf
        order = np.lexsort((np.arange(len(d2)), d2))
        out[q] = {int(i) for i in order[:k]}
    return out
