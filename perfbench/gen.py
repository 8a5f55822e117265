"""Seeded input generators. The same seed gives byte-identical files.

A workload's population is fixed: the mixture the vectors come from, the
vocabulary and topics the documents use, and the benchmark set a curated
corpus must not contain. The seed draws the sample: which vectors,
queries and documents a run sees. Runs with different seeds then measure
the same workload on different data, rather than different workloads.

Every stream is drawn from ``np.random.default_rng(SeedSequence([seed,
stream, unit]))``, so a workload can draw a fresh batch for unit i
without generating units 0..i-1 first.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
POPULATION = 0  # the seed of the fixed population

# stream ids: one per kind of draw
_CENTERS, _CORPUS, _QUERIES, _VOCAB, _TOPICS, _DOCS, _BENCH = range(7)

# The stopwords the quality gate counts, at the top Zipf ranks as in
# English text. With no punctuation and >= 30 tokens every generated
# document passes the gate, so dedup and decontamination see them all.
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def rng_for(seed: int, stream: int, unit: int = 0) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, unit]))


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


class Mixture:
    """Gaussian mixture with Zipf-skewed component sizes: the skew IVF
    cells show on real embeddings (a few hot cells, a long tail).

    The components are well separated and as many as the index's cells.
    With overlapping components, recall at nprobe < nlist depends on the
    local optimum k-means reaches for each sample (0.91-1.0 across
    seeds), which would make recall a measure of the seed."""

    def __init__(self, components: int = 32, dim: int = DIM,
                 spread: float = 3.0, noise: float = 1.0):
        r = rng_for(POPULATION, _CENTERS)
        self.centers = r.standard_normal((components, dim)) * spread
        self.weights = zipf_weights(components, 0.5)
        self.noise = noise

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        comp = rng.choice(len(self.weights), size=n, p=self.weights)
        x = self.centers[comp] + rng.standard_normal((n, self.centers.shape[1])) * self.noise
        return x.astype(np.float32)


def corpus(seed: int, n: int, mix: Mixture) -> np.ndarray:
    return mix.draw(rng_for(seed, _CORPUS), n)


def query_batch(seed: int, batch: int, n: int, mix: Mixture) -> np.ndarray:
    """Fresh query draws; batch b never repeats another batch's vectors."""
    return mix.draw(rng_for(seed, _QUERIES, batch), n)


def vectors_table(ids: np.ndarray, x: np.ndarray, id_name: str = "vec_id",
                  vec_name: str = "embedding") -> pa.Table:
    flat = pa.array(np.ascontiguousarray(x, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.table({
        id_name: pa.array(ids.astype(np.int64)),
        vec_name: pa.ListArray.from_arrays(offsets, flat),
    })


def write_table(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


# ---- documents -----------------------------------------------------------

class Topics:
    """Documents about one of `n` topics: half the tokens come from the
    topic's own words, half from the shared Zipf vocabulary, so the
    embeddings form topic clusters instead of one blob."""

    def __init__(self, size: int = 4000, n: int = 24, words: int = 150):
        r = rng_for(POPULATION, _VOCAB)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = list(STOPWORDS)
        seen = set(vocab)
        while len(vocab) < size:
            w = "".join(r.choice(letters, size=int(r.integers(3, 9))))
            if w not in seen:
                seen.add(w)
                vocab.append(w)
        self.vocab = np.array(vocab)
        self.p = zipf_weights(size, 1.0)
        r = rng_for(POPULATION, _TOPICS)
        self.topics = [r.choice(size - len(STOPWORDS), size=words, replace=False)
                       + len(STOPWORDS) for _ in range(n)]
        self.tp = zipf_weights(words, 1.0)

    def doc(self, r: np.random.Generator, lo: int, hi: int) -> list[str]:
        n = int(r.integers(lo, hi + 1))
        words = self.topics[int(r.integers(len(self.topics)))]
        local = words[r.choice(len(words), size=n, p=self.tp)]
        shared = r.choice(len(self.vocab), size=n, p=self.p)
        return list(self.vocab[np.where(r.random(n) < 0.5, local, shared)])

    def benchmark(self, n: int) -> list[str]:
        """The evaluation set a curated corpus must not contain."""
        r = rng_for(POPULATION, _BENCH)
        return [" ".join(self.doc(r, 60, 200)) for _ in range(n)]


def curate_unit(seed: int, unit: int, n_docs: int, topics: Topics,
                bench: list[str]) -> tuple[pa.Table, dict]:
    """One batch of documents with planted duplicates.

    Topical word salad, 30-300 tokens, plus (ids always above their
    source's, so the source is the min-id representative):

    - exact duplicates (5 %): a copy of an earlier document, either
      verbatim or with changed case and padding (same text after
      lower + trim);
    - near duplicates (5 %): a one-token edit of an earlier document of
      at least 120 tokens (word-3-gram Jaccard >= 0.95);
    - benchmark copies (2 %): a document copied from the benchmark set.

    Returns the (doc_id, text) table and the planted id lists.
    """
    r = rng_for(seed, _DOCS, unit)
    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_bench = n_docs // 50
    n_orig = n_docs - n_exact - n_near - n_bench
    toks = [topics.doc(r, 30, 300) for _ in range(n_orig)]
    texts = [" ".join(t) for t in toks]
    long_src = [i for i, t in enumerate(toks) if len(t) >= 120]
    planted = {"exact": [], "near": [], "bench": []}
    for j, src in enumerate(r.choice(n_orig, size=n_exact, replace=False)):
        t = texts[src]
        texts.append(t if j % 2 == 0 else "  " + t.upper() + " ")
        planted["exact"].append(len(texts) - 1)
    for src in r.choice(long_src, size=n_near, replace=False):
        t = list(toks[src])
        pos = int(r.integers(10, len(t) - 10))
        t[pos] += "9"  # vocabulary words are letters only
        texts.append(" ".join(t))
        planted["near"].append(len(texts) - 1)
    for src in r.choice(len(bench), size=n_bench, replace=False):
        texts.append(bench[src])
        planted["bench"].append(len(texts) - 1)
    order = r.permutation(len(texts))
    table = pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[i] for i in order]),
    })
    return table, planted
