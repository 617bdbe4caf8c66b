"""Seeded input generators for the benchmark.

Both generators are pure functions of their arguments: the same seed
gives byte-identical inputs. Each draws from its own numpy
``SeedSequence`` stream, so adding a draw to one input never shifts
another.

- ``mnist_standin``: a 10-class, 64-dimensional stand-in for the
  paper's MNIST/HOG features. Class centres ~ N(0, 0.3²) per
  coordinate, rows = centre + N(0, 0.6²) noise. Single-process
  ``smo.train_svc`` with the reference defaults (C=1, γ=1/64) scores
  0.957-0.972 held-out on 2k rows (seeds 1-5), near the paper's 96.32%.
- ``dup_corpus``: base documents of Zipf-distributed tokens plus
  planted exact copies and near copies, with the ground truth needed
  to check a deduplication.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

N_CLASSES = 10
DIM = 64
CENTRE_SD = 0.3
NOISE_SD = 0.6

# corpus shape (fractions of all docs; tokens per base doc)
VOCAB = 20000
MIN_LEN, MAX_LEN = 80, 240
EXACT_FRAC, NEAR_FRAC = 0.05, 0.15
REPLACE_FRAC = 0.03        # tokens swapped in a near copy

# stream ids: one per independent draw, so inputs never share a stream
STREAM_CENTRES = 0
STREAM_CORPUS = 100


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def class_centres(seed: int) -> np.ndarray:
    """(N_CLASSES, DIM) centres shared by every split drawn for ``seed``."""
    return _rng(seed, STREAM_CENTRES).normal(0.0, CENTRE_SD,
                                             (N_CLASSES, DIM))


def mnist_standin(n: int, seed: int, stream: int
                  ) -> tuple[np.ndarray, np.ndarray]:
    """``n`` rows (X float32 (n, DIM), y int (n,)) around the centres of
    ``seed``. Distinct ``stream`` values (≥ 1) give independent splits
    of the same problem: train, held-out, another workload's train."""
    if stream == STREAM_CENTRES:
        raise ValueError("stream 0 is reserved for the class centres")
    centres = class_centres(seed)
    rng = _rng(seed, stream)
    y = rng.integers(0, N_CLASSES, n)
    X = centres[y] + rng.normal(0.0, NOISE_SD, (n, DIM))
    return X.astype(np.float32), y.astype(np.int64)


@dataclass(frozen=True)
class Corpus:
    doc_ids: np.ndarray        # int64, row order of the corpus
    texts: list[str]
    n_bases: int               # distinct base documents
    n_exact: int               # planted exact copies
    n_near: int                # planted near copies
    planted: frozenset[int]    # doc_ids of every planted duplicate

    @property
    def n_docs(self) -> int:
        return len(self.texts)


def dup_corpus(n_docs: int, seed: int) -> Corpus:
    """Planted-duplicate corpus.

    ``1 - EXACT_FRAC - NEAR_FRAC`` of the docs are base documents of
    ``MIN_LEN``..``MAX_LEN`` tokens drawn from a Zipf(1) law over
    ``VOCAB`` words. Each exact copy repeats a random base verbatim;
    each near copy repeats a random base with ``REPLACE_FRAC`` of its
    tokens (at least one) swapped for a different word. Within every
    cluster the base holds the smallest doc_id, so a keep-smallest-id
    dedup keeps exactly the bases; rows are shuffled so ids and row
    order are unrelated.
    """
    rng = _rng(seed, STREAM_CORPUS)
    n_exact = int(round(n_docs * EXACT_FRAC))
    n_near = int(round(n_docs * NEAR_FRAC))
    n_bases = n_docs - n_exact - n_near
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(VOCAB)])

    bases = []
    for _ in range(n_bases):
        length = int(rng.integers(MIN_LEN, MAX_LEN + 1))
        bases.append(rng.choice(VOCAB, size=length, p=p))
    copies = []                # (base index, token array)
    for src in rng.integers(0, n_bases, n_exact):
        copies.append((int(src), bases[src]))
    for src in rng.integers(0, n_bases, n_near):
        toks = bases[src].copy()
        n_rep = max(1, int(round(len(toks) * REPLACE_FRAC)))
        pos = rng.choice(len(toks), size=n_rep, replace=False)
        # shift by 1..VOCAB-1 so every replaced token really changes
        toks[pos] = (toks[pos] + rng.integers(1, VOCAB, n_rep)) % VOCAB
        copies.append((int(src), toks))

    # ids: a random permutation, then within each cluster the base
    # takes the smallest id of the cluster
    ids = rng.permutation(n_docs).astype(np.int64)
    base_ids = ids[:n_bases].copy()
    copy_ids = ids[n_bases:].copy()
    members: dict[int, list[int]] = {}
    for j, (src, _) in enumerate(copies):
        members.setdefault(src, []).append(j)
    for src, js in members.items():
        cluster = sorted([int(base_ids[src])] + [int(copy_ids[j]) for j in js])
        base_ids[src] = cluster[0]
        for j, doc_id in zip(js, cluster[1:]):
            copy_ids[j] = doc_id

    rows = ([(int(base_ids[i]), toks) for i, toks in enumerate(bases)]
            + [(int(copy_ids[j]), toks) for j, (_, toks) in enumerate(copies)])
    order = rng.permutation(len(rows))
    doc_ids = np.array([rows[i][0] for i in order], dtype=np.int64)
    texts = [" ".join(words[rows[i][1]]) for i in order]
    return Corpus(doc_ids=doc_ids, texts=texts, n_bases=n_bases,
                  n_exact=n_exact, n_near=n_near,
                  planted=frozenset(int(c) for c in copy_ids))
