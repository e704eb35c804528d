"""Seeded inputs for the benchmark: corpora, DML batches and request streams.

Everything is a pure function of ``seed``: the same seed gives the same rows,
vectors and requests, and the library only ever receives what is built here.

- Text is Zipf-distributed over a generated vocabulary, so query terms span
  head terms (long posting lists) and tail terms (a few postings).
- Vectors are a 64-d clustered mixture (centres + sub-cluster offsets +
  point noise), so graph routing behaves like an embedding corpus.
- ``lang`` is skewed and ``n`` is uniform on [0, 1000), so the equality and
  range filters of the request mix select between 1% and 30% of the rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

DIM = 64
VOCAB = 3000
ZIPF_S = 1.1
LANGS = ("en", "de", "fr", "es", "it", "nl", "pt", "pl", "sv", "fi")
LANG_P = (0.30, 0.20, 0.14, 0.10, 0.08, 0.06, 0.05, 0.03, 0.02, 0.02)
N_RANGE = 1000
# query terms: head ranks have long postings, tail ranks a handful
HEAD_RANKS = (0, 40)
TAIL_RANKS = (300, VOCAB)
_STOPWORDS = {"that", "their", "then", "there", "these", "they", "this",
              "will", "with", "into", "such"}

HYBRID_SCHEMA = {
    "body": {"type": "text", "text": {"analyser": "standard"}},
    "lang": {"type": "string", "string": {"caseSensitive": False}},
    "n": {"type": "integer", "integer": {}},
    "v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": DIM, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}},
}
FRAME_DDL = "_id string, body string, lang string, n long, v array<float>"


@dataclass
class Corpus:
    """Generated rows plus the generator state later batches reuse."""

    frame: pd.DataFrame  # _id, body, lang, n, v (float32 arrays)
    vocab: np.ndarray  # words by Zipf rank
    word_p: np.ndarray
    centers: np.ndarray
    offsets: np.ndarray

    @property
    def X(self) -> np.ndarray:
        return np.stack(self.frame["v"].to_numpy())


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters, size=int(rng.integers(4, 10))))
        if w not in _STOPWORDS:
            words.setdefault(w, None)
    return np.array(list(words))


def _bodies(rng, vocab, word_p, count: int) -> list[str]:
    lens = rng.integers(6, 31, size=count)
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=word_p)
    return [" ".join(vocab[s]) for s in np.split(toks, np.cumsum(lens)[:-1])]


def _vectors(rng, centers, offsets, count: int) -> np.ndarray:
    c = rng.integers(0, len(centers), size=count)
    s = rng.integers(0, offsets.shape[1], size=count)
    noise = rng.normal(scale=0.1, size=(count, DIM))
    return (centers[c] + offsets[c, s] + noise).astype(np.float32)


def make_corpus(seed: int, rows: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng)
    word_p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    word_p /= word_p.sum()
    centers = rng.normal(size=(32, DIM))
    offsets = rng.normal(scale=0.3, size=(32, 4, DIM))
    frame = pd.DataFrame({
        "_id": [f"p{i:06d}" for i in range(rows)],
        "body": _bodies(rng, vocab, word_p, rows),
        "lang": rng.choice(LANGS, size=rows, p=LANG_P),
        "n": rng.integers(0, N_RANGE, size=rows),
        "v": list(_vectors(rng, centers, offsets, rows)),
    })
    return Corpus(frame, vocab, word_p, centers, offsets)


def held_out_queries(seed: int, corpus: Corpus, count: int,
                     stream: int = 0) -> np.ndarray:
    """Query vectors from the corpus mixture that are not in the corpus."""
    rng = np.random.default_rng([seed, 2, stream])
    return _vectors(rng, corpus.centers, corpus.offsets, count)


def hybrid_requests(seed: int, corpus: Corpus, count: int) -> list[dict]:
    """The four two- and three-leg shapes of the hybrid serving mix:
    text OR vector, int-range AND vector, lang AND text, and
    (int > lo AND vector) OR text(containsAll).

    The seed picks the words, vectors and offsets; the cost-setting choices
    are stratified by request index (shape, head-term rank, filter width),
    so every seed gets the same spread of posting lengths and selectivities
    and runs with different seeds measure the same mix."""
    rng = np.random.default_rng([seed, 3])
    qvecs = held_out_queries(seed, corpus, count)
    head_n = HEAD_RANKS[1] - HEAD_RANKS[0]
    reqs = []
    for i in range(count):
        qv = [float(x) for x in qvecs[i]]
        head = corpus.vocab[HEAD_RANKS[0] + (i * 7) % head_n]
        tail = corpus.vocab[rng.integers(*TAIL_RANKS)]
        terms = f"{head} {tail}" if (i // 4) % 2 else f"{tail} {head}"
        width = 10 + (i * 37) % 291  # 1% - 30% of n's range
        lo = int(rng.integers(0, N_RANGE - width))
        shape = i % 4
        if shape == 0:
            q = {"property": "_or", "_or": [
                {"property": "body", "text": {
                    "operator": "containsAny", "value": terms, "limit": 10,
                    "weight": 2.0}},
                {"property": "v", "vectorVamana": {
                    "vector": qv, "limit": 10, "weight": 0.5}},
            ]}
        elif shape == 1:
            q = {"property": "_and", "_and": [
                {"property": "n", "integer": {
                    "operator": "inRange", "value": lo,
                    "endValue": lo + width}},
                {"property": "v", "vectorVamana": {"vector": qv, "limit": 10}},
            ]}
        elif shape == 2:
            q = {"property": "_and", "_and": [
                {"property": "lang", "string": {
                    "operator": "equals", "value": LANGS[(i // 4) % len(LANGS)]}},
                {"property": "body", "text": {
                    "operator": "containsAny", "value": terms, "limit": 10}},
            ]}
        else:
            q = {"property": "_or", "_or": [
                {"property": "_and", "_and": [
                    {"property": "n", "integer": {
                        "operator": "greaterThan", "value": N_RANGE - width}},
                    {"property": "v", "vectorVamana": {
                        "vector": qv, "limit": 10}},
                ]},
                {"property": "body", "text": {
                    "operator": "containsAll", "value": terms, "limit": 10}},
            ]}
        reqs.append({"query": q, "limit": 10})
    return reqs


def graph_requests(qvecs: np.ndarray) -> list[dict]:
    """Unfiltered top-10 vector requests, one per held-out query point."""
    return [
        {"query": {"property": "v", "vectorVamana": {
            "vector": [float(x) for x in q], "limit": 10}},
         "limit": 10}
        for q in qvecs
    ]


def marker(kind: str, rnd: int = 0) -> str:
    """A token no generated body contains: digits never occur in the
    vocabulary, so it finds exactly the rows DML round ``rnd`` tagged."""
    return f"mk{kind}{rnd}"


def insert_batch(seed: int, corpus: Corpus, rows: int, rnd: int = 0) -> pd.DataFrame:
    """New rows whose bodies carry round ``rnd``'s insert marker, so a text
    read can find exactly these ids."""
    rng = np.random.default_rng([seed, 4, rnd])
    bodies = _bodies(rng, corpus.vocab, corpus.word_p, rows)
    mk = marker("i", rnd)
    return pd.DataFrame({
        "_id": [f"c{rnd:04d}-{j:03d}" for j in range(rows)],
        "body": [f"{b} {mk}" for b in bodies],
        "lang": rng.choice(LANGS, size=rows, p=LANG_P),
        "n": rng.integers(0, N_RANGE, size=rows),
        "v": list(_vectors(rng, corpus.centers, corpus.offsets, rows)),
    })


def update_batch(seed: int, live_ids: list[str], rows: int,
                 bodies: dict[str, str], rnd: int = 0) -> pd.DataFrame:
    """Updates ``rows`` live points: appends round ``rnd``'s update marker
    to the body and sets ``n`` to N_RANGE, outside the generated range, so
    the change is visible to both a text read and the returned payload."""
    rng = np.random.default_rng([seed, 5, rnd])
    ids = sorted(rng.choice(live_ids, size=rows, replace=False).tolist())
    mk = marker("u", rnd)
    return pd.DataFrame({
        "_id": ids,
        "body": [f"{bodies[i]} {mk}" for i in ids],
        "n": np.full(rows, N_RANGE, dtype=np.int64),
    })


def delete_ids(seed: int, live_ids: list[str], keep: set[str], rows: int,
               rnd: int = 0) -> list[str]:
    """``rows`` live ids to delete, none of them in ``keep``."""
    rng = np.random.default_rng([seed, 6, rnd])
    pool = [i for i in live_ids if i not in keep]
    return sorted(rng.choice(pool, size=rows, replace=False).tolist())
