"""Seeded input generator for the benchmark workloads.

Everything the program under test receives comes from here, so the
inputs depend only on ``--seed`` and on this file — never on the
program's own synthetic corpus (``searty_spark.corpus``), which a
program change could alter.

- ``corpus``: Zipf-vocabulary English-like documents, a multibyte
  ``ja`` slice, ``url`` and ``lang`` columns, and optionally planted
  near-duplicate clusters (copies of a base document with a few words
  substituted).
- ``request_stream``: the serve traffic — about 80% BM25 queries of 1-3
  words with Zipf-repeated terms, about 20% ``:phrase`` 2-word phrases
  cut from the documents.
- ``embeddings``: Gaussian background vectors, small planted clusters
  of near-duplicates, and one oversized cone of vectors that share most
  of their LSH band keys without being near-duplicates of each other.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
HIRAGANA = np.array([chr(c) for c in range(0x3042, 0x3094)])
ZIPF_S = 1.1
# corpus
WORDS = (60, 180)  # words per document, [low, high)
JA_SHARE = 0.05
DOC_CLUSTER_SIZE = (2, 5)  # members per planted near-dup cluster
EDIT_SHARE = 0.02  # words substituted in each copy
# embeddings
VEC_CLUSTER_SIZE = (2, 4)
CLUSTER_NOISE = 0.15  # planted pairs: cosine ~ 1 / (1 + 0.15^2) = 0.98
CONE_SPREAD = 0.8  # cone members: cosine to the axis ~0.78, to each other ~0.6


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, named stream), so adding a
    stream never shifts the values another stream draws."""
    return np.random.default_rng([seed, *stream.encode()])


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def vocabulary(seed: int, n: int) -> list[str]:
    """``n`` distinct lowercase words of 3-9 letters. The word of Zipf
    rank ``r`` has ``3 + r % 7`` letters whatever the seed, so the
    trigrams a document or query holds, and with them the work it
    costs, do not shift with the seed; only the letters do."""
    rng = rng_for(seed, "vocab")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(LETTERS, 3 + len(out) % 7))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Corpus:
    doc_id: list[int]
    url: list[str]
    lang: list[str]
    text: list[str]
    # planted near-duplicate clusters, as lists of doc ids
    clusters: list[list[int]]

    def columns(self) -> dict[str, list]:
        return {"doc_id": self.doc_id, "text": self.text, "url": self.url, "lang": self.lang}

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text)


def corpus(
    seed: int,
    stream: str,
    n_docs: int,
    vocab: list[str],
    first_id: int = 0,
    n_clusters: int = 0,
) -> Corpus:
    """``n_docs`` documents with ids ``first_id ..``. Planted clusters
    take the first documents of the corpus: each is a base text and
    copies of it with ``EDIT_SHARE`` of their words replaced,
    ``DOC_CLUSTER_SIZE`` members in all."""
    rng = rng_for(seed, stream)
    probs = zipf_probs(len(vocab))
    va = np.array(vocab)
    texts: list[str] = []
    langs: list[str] = []
    clusters: list[list[int]] = []
    while len(clusters) < n_clusters and len(texts) < n_docs:
        base = va[rng.choice(len(va), int(rng.integers(*WORDS)), p=probs)]
        size = min(int(rng.integers(DOC_CLUSTER_SIZE[0], DOC_CLUSTER_SIZE[1] + 1)),
                   n_docs - len(texts))
        members = []
        for j in range(size):
            w = base.copy()
            if j:
                n_edit = max(1, int(round(EDIT_SHARE * w.size)))
                at = rng.choice(w.size, n_edit, replace=False)
                w[at] = va[rng.choice(len(va), n_edit, p=probs)]
            members.append(first_id + len(texts))
            texts.append(" ".join(w))
            langs.append("en")
        clusters.append(members)
    while len(texts) < n_docs:
        n_words = int(rng.integers(*WORDS))
        if rng.random() < JA_SHARE:
            # a multibyte slice: hiragana "words", so trigram windows
            # span 3-byte characters
            chars = HIRAGANA[rng.integers(0, HIRAGANA.size, n_words * 4)]
            text = " ".join(
                "".join(chars[i : i + 4]) for i in range(0, chars.size, 4)
            )
            langs.append("ja")
        else:
            text = " ".join(va[rng.choice(len(va), n_words, p=probs)])
            langs.append("en")
        texts.append(text)
    ids = list(range(first_id, first_id + n_docs))
    hosts = rng.integers(0, 50, n_docs)
    urls = [f"https://site{h}.example/{stream}/{i}" for h, i in zip(hosts, ids)]
    return Corpus(ids, urls, langs, texts, clusters)


def request_stream(
    seed: int, docs: Corpus, vocab: list[str], n: int, phrase_share: float = 0.2
) -> list[str]:
    """Serve request lines. BM25 terms come from a Zipf over the
    vocabulary, so a hot head of terms repeats across requests, and BM25
    requests cycle through 1, 2 and 3 words; every ``1/phrase_share``-th
    request is a phrase of two consecutive words cut from a random
    English document, so even a short phase holds both kinds in the same
    proportions whatever the seed."""
    rng = rng_for(seed, "requests")
    probs = zipf_probs(len(vocab))
    en = [t for t, lang in zip(docs.text, docs.lang) if lang == "en"]
    every = round(1 / phrase_share) if phrase_share else 0
    out: list[str] = []
    for i in range(n):
        if every and i % every == every - 1:
            words = en[int(rng.integers(0, len(en)))].split(" ")
            i = int(rng.integers(0, len(words) - 1))
            out.append(f":phrase {words[i]} {words[i + 1]}")
        else:
            k = 1 + i % 3
            out.append(" ".join(vocab[j] for j in rng.choice(len(vocab), k, p=probs)))
    return out


def repeat_term_share(requests: list[str]) -> float:
    """Share of requests whose words all appeared in earlier requests."""
    seen: set[str] = set()
    hits = 0
    for line in requests:
        words = line.removeprefix(":phrase ").split(" ")
        hits += all(w in seen for w in words)
        seen.update(words)
    return hits / len(requests)


@dataclass
class Embeddings:
    vec_id: np.ndarray
    vectors: np.ndarray  # float64 (n, dim)
    clusters: list[list[int]]
    cone: list[int]


def embeddings(seed: int, n: int, dim: int, n_clusters: int, cone: int) -> Embeddings:
    """``n`` vectors: Gaussian background (pairwise cosine ~N(0, 1/dim),
    far below any near-dup threshold), ``n_clusters`` small planted
    clusters (``center + CLUSTER_NOISE * N(0, I)``: near-duplicates), and
    one cone of ``cone`` vectors ``axis + CONE_SPREAD * N(0, I)``. A
    sign-LSH bit agrees between two vectors with probability
    1 - angle/pi, so most of the cone shares each band's key with its
    axis — one bucket per band holds most of the cone — while no two
    cone members come near a 0.9 cosine: the bucket is large, its
    output is not."""
    rng = rng_for(seed, "embeddings")
    vec = rng.standard_normal((n, dim))
    clusters: list[list[int]] = []
    at = 0
    members = list(range(at, min(at + cone, n)))
    axis = rng.standard_normal(dim)
    vec[members] = axis + CONE_SPREAD * rng.standard_normal((len(members), dim))
    at += len(members)
    while len(clusters) < n_clusters and at < n:
        size = min(int(rng.integers(VEC_CLUSTER_SIZE[0], VEC_CLUSTER_SIZE[1] + 1)), n - at)
        center = rng.standard_normal(dim)
        vec[at : at + size] = center + CLUSTER_NOISE * rng.standard_normal((size, dim))
        clusters.append(list(range(at, at + size)))
        at += size
    return Embeddings(np.arange(n, dtype=np.int64), vec, clusters, members)


def write_parquet(path: str, cols: dict[str, list]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def write_embeddings(path: str, emb: Embeddings) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(emb.vec_id, pa.int64()),
            "embedding": pa.array(list(emb.vectors), pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, path)
