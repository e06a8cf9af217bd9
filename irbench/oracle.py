"""Independent numpy BM25 / Dirichlet-QL oracle over the generator's counts.

It never tokenizes: document statistics come straight from the exact
per-document term counts the generator drew, so it shares no code with
the engine.  Ranking follows the engine's contract: top-k by
``(-score, doc_key)`` over documents that match at least one query term.
"""

from __future__ import annotations

import math

import numpy as np

from gen import VOCAB_SIZE, Corpus, Vocab

K1 = 1.1
B = 0.4
MU = 1000.0
RTOL = 1e-9


class Oracle:
    """Index statistics of the union of ``corpora`` (base plus deltas)."""

    def __init__(self, vocab: Vocab, corpora: list[Corpus]):
        self.term_id = {w: i for i, w in enumerate(vocab.words.tolist())}
        keys: list[str] = []
        docs, terms, tfs = [], [], []
        off = 0
        for c in corpora:
            keys.extend(c.doc_keys)
            docs.append(np.repeat(np.arange(c.n, dtype=np.int64) + off, np.diff(c.doc_ptr)))
            terms.append(c.term_ids)
            tfs.append(c.tfs)
            off += c.n
        self.doc_keys = np.array(keys, dtype=object)
        self.n = len(keys)
        # rank in doc_key order breaks score ties
        self.key_rank = np.empty(self.n, dtype=np.int64)
        self.key_rank[np.argsort(self.doc_keys, kind="stable")] = np.arange(self.n)
        doc = np.concatenate(docs)
        term = np.concatenate(terms)
        tf = np.concatenate(tfs)
        self.dl = np.bincount(doc, weights=tf, minlength=self.n).astype(np.int64)
        self.token_count = int(self.dl.sum())
        self.avg_dl = self.token_count / self.n
        self.df = np.bincount(term, minlength=VOCAB_SIZE).astype(np.int64)
        self.cf = np.bincount(term, weights=tf, minlength=VOCAB_SIZE).astype(np.int64)
        order = np.argsort(term, kind="stable")
        self.post_ptr = np.concatenate([[0], np.cumsum(self.df)])
        self.post_doc = doc[order]
        self.post_tf = tf[order]

    def postings(self, word: str) -> tuple[np.ndarray, np.ndarray]:
        t = self.term_id.get(word)
        if t is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        s, e = self.post_ptr[t], self.post_ptr[t + 1]
        return self.post_doc[s:e], self.post_tf[s:e]

    def _topk(self, hit: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[str, float]]:
        cand = np.flatnonzero(hit)
        order = np.lexsort((self.key_rank[cand], -scores[cand]))[:k]
        return [(self.doc_keys[d], float(scores[d])) for d in cand[order].tolist()]

    def bm25_topk(self, terms: list[str], k: int) -> list[tuple[str, float]]:
        """BM25 (Lucene probabilistic idf) over the deduplicated terms."""
        scores = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for w in sorted(set(terms)):
            docs, tf = self.postings(w)
            if not len(docs):
                continue
            df = len(docs)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            norm = K1 * (1.0 - B + B * self.dl[docs] / self.avg_dl)
            scores[docs] += idf * tf * (K1 + 1.0) / (tf + norm)
            hit[docs] = True
        return self._topk(hit, scores, k)

    def ql_topk(self, terms: list[str], k: int) -> list[tuple[str, float]]:
        """Dirichlet query likelihood; query-side repeats count.  A term
        absent from the corpus has probability 0, so every matched doc
        scores -inf through it."""
        hit = np.zeros(self.n, dtype=bool)
        tf_of = {}
        for w in set(terms):
            docs, tf = self.postings(w)
            hit[docs] = True
            tf_of[w] = (docs, tf)
        cand = np.flatnonzero(hit)
        scores = np.full(self.n, -np.inf)
        if len(cand):
            s = np.zeros(len(cand))
            denom = self.dl[cand] + MU
            for w in terms:
                docs, tf = tf_of[w]
                dense = np.zeros(self.n, dtype=np.int64)
                dense[docs] = tf
                t = self.term_id.get(w)
                p_bg = (self.cf[t] / self.token_count) if t is not None else 0.0
                with np.errstate(divide="ignore"):
                    s += np.log((dense[cand] + MU * p_bg) / denom)
            scores[cand] = s
        return self._topk(hit, scores, k)


def same_scores(a: float, b: float) -> bool:
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= RTOL * max(abs(a), abs(b), 1e-300)


def compare(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> str:
    """'' when ``got`` equals ``want`` (same docs in the same order, scores
    within RTOL); 'ties' when the score sequence matches and docs differ
    only in the order of equal scores; 'wrong' otherwise."""
    if len(got) != len(want) or not all(same_scores(g[1], w[1]) for g, w in zip(got, want)):
        return "wrong"
    if all(g[0] == w[0] for g, w in zip(got, want)):
        return ""
    pos = {key: j for j, (key, _) in enumerate(want)}
    for i, (key, _) in enumerate(got):
        j = pos.get(key)
        # a doc outside the oracle's top-k may only fill a tie at the cut
        ref = want[-1][1] if j is None else want[j][1]
        if not same_scores(ref, want[i][1]):
            return "wrong"
    return "ties"
