"""Output checks, run outside the timed region.

- BM25 and phrase results are compared against the pure-Python
  reference ``searty_spark.oracle``. The ranking key is
  ``round(score, 6)`` descending, then ``doc_id`` ascending; a result
  passes when its scores equal the reference's top-k scores and each
  returned document's reference score equals the returned score (both
  within ``TOL``, which absorbs last-digit rounding of float sums).
- Dedup and LSH pairs are re-verified exactly (shingle-set Jaccard,
  numpy cosine), and the planted pairs are held to a recall floor.
"""

from __future__ import annotations

import numpy as np

TOL = 2e-6
RECALL_FLOOR = 0.9


class Reference:
    """Oracle index over the served corpus with memoized answers."""

    def __init__(self, texts: dict[int, str], k: int):
        from searty_spark import oracle

        self.o = oracle
        self.idx = oracle.build_index(texts)
        self.k = k
        self._memo: dict[str, dict[int, float]] = {}

    def scores(self, line: str) -> dict[int, float]:
        """Every matching document's rounded score for a request line."""
        if line not in self._memo:
            if line.startswith(":phrase "):
                self._memo[line] = self._phrase(line.removeprefix(":phrase "))
            else:
                self._memo[line] = dict(self.o.bm25_topk(self.idx, line, k=self.idx.n_docs))
        return self._memo[line]

    def _phrase(self, q: str) -> dict[int, float]:
        """Phrase-matching documents scored with BM25 over the phrase's
        distinct trigrams (the ranked-phrase definition)."""
        from searty_spark.tokenize import tokenize

        o, idx = self.o, self.idx
        out = {}
        for d in o.phrase_doc_ids(idx, q):
            s = 0.0
            for t in sorted(set(tokenize(q))):
                plist = idx.postings[t]
                s += o.bm25_term_score(len(plist[d]), idx.doc_len[d], idx.avgdl,
                                       idx.n_docs, len(plist))
            out[d] = round(s, 6)
        return out

    def check(self, line: str, got) -> bool:
        ref = self.scores(line)
        want = sorted(ref.values(), reverse=True)[: self.k]
        if len(got) != len(want):
            return False
        for (doc, score), w in zip(got, want):
            if abs(score - w) > TOL or doc not in ref or abs(ref[doc] - score) > TOL:
                return False
        keys = [(-round(s, 6), d) for d, s in got]
        return keys == sorted(keys) and len({d for d, _ in got}) == len(got)


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def planted_pairs(clusters) -> set[tuple[int, int]]:
    return {(a, b) for c in clusters for i, a in enumerate(c) for b in c[i + 1 :]}


def check_jaccard_pairs(pairs, texts: dict[int, str], threshold: float):
    """(bad pair count, set of reported pairs). A pair is bad unless
    its exact Jaccard clears the threshold and matches the reported
    value."""
    sh: dict[int, set] = {}
    bad = 0
    for a, b, j in pairs:
        for d in (a, b):
            if d not in sh:
                sh[d] = shingles(texts[d])
        exact = jaccard(sh[a], sh[b])
        if not (a < b and exact >= threshold and abs(round(exact, 6) - j) <= TOL):
            bad += 1
    return bad, {(a, b) for a, b, _ in pairs}


def check_cosine_pairs(pairs, vectors: np.ndarray, threshold: float):
    """(bad pair count, set of reported pairs), like check_jaccard_pairs
    with the exact cosine computed in numpy."""
    bad = 0
    if pairs:
        arr = np.asarray(pairs, dtype=np.float64)
        a = arr[:, 0].astype(np.int64)
        b = arr[:, 1].astype(np.int64)
        va, vb = vectors[a], vectors[b]
        cos = (va * vb).sum(1) / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))
        ok = (a < b) & (np.round(cos, 6) >= threshold) & (np.abs(np.round(cos, 6) - arr[:, 2]) <= TOL)
        bad = int((~ok).sum())
    return bad, {(int(a), int(b)) for a, b, _ in pairs}


def recall(found: set, planted: set) -> float:
    return len(found & planted) / len(planted) if planted else 1.0
