"""Independent reference model: BM25 and phrase matching computed straight
from the generator's token ids.

It shares no code with the engine.  Scoring follows Xapian's BM25Weight
with its default constants (bm25weight.cc): k1=1, k2=0, k3=1, b=0.5,
min_normlen=0.5, and the wqf factor (k3+1)*wqf/(k3+wqf).  With k2=0 there
is no per-document extra term.  A phrase "a b" matches a document where b
sits at the position right after a; it scores as the sum of its terms.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

K1, K3, B, MIN_NORMLEN = 1.0, 1.0, 0.5, 0.5  # k2 = 0
REL_TOL = 1e-9


class Model:
    def __init__(self, corpus):
        self.corpus = corpus
        self.ndocs = corpus.ndocs
        nterms = len(corpus.vocab)
        self.doclen = corpus.doclens
        self.total_doclen = int(self.doclen.sum())
        self.avg_len = self.total_doclen / self.ndocs
        self.doc_of_token = np.repeat(
            np.arange(self.ndocs, dtype=np.int64), self.doclen
        )
        key = self.doc_of_token * nterms + corpus.tokens
        uniq, wdf = np.unique(key, return_counts=True)
        pterm = uniq % nterms
        order = np.argsort(pterm, kind="stable")  # docs stay ascending
        self.p_doc = (uniq // nterms)[order]
        self.p_wdf = wdf[order]
        self.tf = np.bincount(pterm, minlength=nterms)
        self.cf = np.bincount(corpus.tokens, minlength=nterms)
        self.ptr = np.concatenate(([0], np.cumsum(self.tf)))
        self._by_df = np.lexsort((np.arange(nterms), -self.tf))

    def hottest(self, n: int) -> np.ndarray:
        """Ids of the n terms with the highest document frequency."""
        return self._by_df[:n]

    def postings(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        lo, hi = self.ptr[t], self.ptr[t + 1]
        return self.p_doc[lo:hi], self.p_wdf[lo:hi]

    def termweight(self, t: int, wqf: int = 1) -> float:
        tf = int(self.tf[t])
        idf = (self.ndocs - tf + 0.5) / (tf + 0.5)
        if idf < 2:
            idf = idf * 0.5 + 1
        w = math.log(idf)
        w *= (K3 + 1) * wqf / (K3 + wqf)
        return w * (K1 + 1)

    def _add_term(self, acc: np.ndarray, t: int, wqf: int,
                  docs: np.ndarray | None = None) -> None:
        pd, pw = self.postings(t)
        if docs is not None:
            keep = np.isin(pd, docs, assume_unique=True)
            pd, pw = pd[keep], pw[keep]
        normlen = np.maximum(self.doclen[pd] / self.avg_len, MIN_NORMLEN)
        wdf = pw.astype(np.float64)
        acc[pd] += self.termweight(t, wqf) * wdf / (
            K1 * (normlen * B + (1 - B)) + wdf
        )

    def or_scores(self, terms: list[int]) -> tuple[np.ndarray, np.ndarray]:
        """(dense score per doc index, matched doc indices) of a weighted
        OR; repeated terms raise the term's wqf."""
        acc = np.zeros(self.ndocs)
        wqf = Counter(terms)
        for t in sorted(wqf):
            self._add_term(acc, t, wqf[t])
        matched = np.unique(np.concatenate(
            [self.postings(t)[0] for t in wqf]
        ))
        return acc, matched

    def phrase_docs(self, a: int, b: int) -> np.ndarray:
        """Doc indices where term b directly follows term a."""
        tok = self.corpus.tokens
        hit = np.flatnonzero(
            (tok[:-1] == a) & (tok[1:] == b)
            & (self.doc_of_token[:-1] == self.doc_of_token[1:])
        )
        return np.unique(self.doc_of_token[hit])

    def phrase_scores(self, a: int, b: int) -> tuple[np.ndarray, np.ndarray]:
        docs = self.phrase_docs(a, b)
        acc = np.zeros(self.ndocs)
        for t in sorted({a, b}):
            self._add_term(acc, t, 1, docs)
        return acc, docs

    def topk(self, scores: tuple[np.ndarray, np.ndarray], k: int):
        """Model ranking: the top k of the matched docs by (score desc,
        docid asc), as (docids, scores) arrays."""
        acc, matched = scores
        s = acc[matched]
        if len(s) > k:  # keep the k best and everything tied with the k-th
            keep = s >= np.partition(s, -k)[-k] * (1 - 2 * REL_TOL)
            matched, s = matched[keep], s[keep]
        order = np.lexsort((matched, -s))[:k]
        return self.corpus.docids[matched[order]], s[order]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def compare_topk(got: list[tuple[int, float]], scores, model: Model,
                 k: int) -> str | None:
    """None when the engine's ranked (docid, score) list is the model's
    top k, else the reason it is not.

    Docids must equal the model's rank by rank, scores within REL_TOL.
    Where two documents' model scores agree within REL_TOL they are tied,
    and the engine may hold either at that rank (its float sums run in
    another order, so a true tie can differ in the last bit); where the
    engine's own scores are exactly equal, its docids must ascend.
    """
    acc, matched = scores
    exp_docs, exp_scores = model.topk(scores, k)
    if len(got) != len(exp_docs):
        return f"{len(got)} results, model has {len(exp_docs)}"
    is_match = np.zeros(model.ndocs, dtype=bool)
    is_match[matched] = True
    seen = set()
    for r, ((d, s), ed, es) in enumerate(zip(got, exp_docs, exp_scores), 1):
        i = d - 1
        if d in seen:
            return f"rank {r}: docid {d} repeated"
        seen.add(d)
        if not (0 <= i < model.ndocs and is_match[i]):
            return f"rank {r}: docid {d} does not match the query"
        if not _close(s, acc[i]):
            return f"rank {r}: docid {d} scored {s!r}, model {acc[i]!r}"
        if d != ed and not _close(acc[i], es):
            return (f"rank {r}: docid {d} (model {acc[i]!r}), "
                    f"model ranks docid {ed} ({es!r}) here")
    for r, ((d1, s1), (d2, s2)) in enumerate(zip(got, got[1:]), 1):
        if s1 < s2 or (s1 == s2 and d1 > d2):
            return f"ranks {r},{r + 1} out of order: {(d1, s1)}, {(d2, s2)}"
    return None


def same_ranking(a: list, b: list, scores) -> str | None:
    """None when two ranked (docid, score) lists agree: same length, and
    rank by rank the same docid or two docids the model scores as tied."""
    acc = scores[0]
    if len(a) != len(b):
        return f"{len(a)} vs {len(b)} results"
    for r, ((d1, _), (d2, _)) in enumerate(zip(a, b), 1):
        if not (0 <= d1 - 1 < len(acc) and 0 <= d2 - 1 < len(acc)):
            return f"rank {r}: docid {d1} or {d2} out of range"
        if d1 != d2 and not _close(acc[d1 - 1], acc[d2 - 1]):
            return f"rank {r}: docid {d1} vs {d2}"
    return None
