"""Tests of the benchmark's own reference model and generator:
    python3 -m pytest warehouse_bench/test_model.py -q
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
from model import Model, compare_topk, same_ranking  # noqa: E402


def tiny() -> Model:
    # doc1: a b a    doc2: b c    doc3: c a b b
    vocab = np.array(["a", "b", "c"], dtype=object)
    tokens = np.array([0, 1, 0, 1, 2, 2, 0, 1, 1], dtype=np.int32)
    c = corpus.Corpus(vocab=vocab, tokens=tokens,
                      offsets=np.array([0, 3, 5, 9]),
                      docids=np.array([1, 2, 3], dtype=np.int64))
    return Model(c)


def bm25(N, tf, wdf, doclen, avg, wqf=1):
    idf = (N - tf + 0.5) / (tf + 0.5)
    if idf < 2:
        idf = idf * 0.5 + 1
    tw = math.log(idf) * 2 * wqf / (1 + wqf) * 2
    normlen = max(doclen / avg, 0.5)
    return tw * wdf / (normlen * 0.5 + 0.5 + wdf)


def test_counts():
    m = tiny()
    assert m.tf.tolist() == [2, 3, 2]
    assert m.cf.tolist() == [3, 4, 2]
    assert m.doclen.tolist() == [3, 2, 4]
    assert m.total_doclen == 9
    d, w = m.postings(1)
    assert d.tolist() == [0, 1, 2] and w.tolist() == [1, 1, 2]


def test_or_scores_match_hand_formula():
    m = tiny()
    acc, matched = m.or_scores([0, 2])
    assert matched.tolist() == [0, 1, 2]
    avg = 3.0
    want = [bm25(3, 2, 2, 3, avg), bm25(3, 2, 1, 2, avg),
            bm25(3, 2, 1, 4, avg) + bm25(3, 2, 1, 4, avg)]
    assert np.allclose(acc, want, rtol=1e-15, atol=0)


def test_repeated_term_raises_wqf():
    m = tiny()
    acc, _ = m.or_scores([0, 0])
    assert math.isclose(acc[0], bm25(3, 2, 2, 3, 3.0, wqf=2), rel_tol=1e-15)


def test_phrase_adjacency_stays_inside_a_document():
    m = tiny()
    assert m.phrase_docs(0, 1).tolist() == [0, 2]   # "a b" in docs 1 and 3
    assert m.phrase_docs(1, 2).tolist() == [1]      # "b c" only inside doc 2
    assert m.phrase_docs(2, 2).tolist() == []
    acc, docs = m.phrase_scores(0, 1)
    assert acc[1] == 0 and acc[0] > 0 and acc[2] > 0


def test_compare_topk():
    m = tiny()
    sc = m.or_scores([0, 2])
    acc = sc[0]
    good = [(3, acc[2]), (1, acc[0]), (2, acc[1])]
    good.sort(key=lambda x: (-x[1], x[0]))
    assert compare_topk(good, sc, m, 10) is None
    assert compare_topk(good[:2], sc, m, 2) is None
    assert "results" in compare_topk(good[:2], sc, m, 10)
    wrong_score = [(good[0][0], good[0][1] * (1 + 1e-6))] + good[1:]
    assert "scored" in compare_topk(wrong_score, sc, m, 10)
    swapped = [good[1], good[0], good[2]]
    assert compare_topk(swapped, sc, m, 10) is not None


def test_compare_topk_allows_last_bit_ties():
    m = tiny()
    acc = np.array([1.0, 1.0, 0.5])
    sc = (acc, np.array([0, 1, 2]))
    nudged = 1.0 + 2 ** -52  # a true tie summed in another order
    assert compare_topk([(2, nudged), (1, 1.0)], sc, m, 2) is None
    assert compare_topk([(1, 1.0), (2, 1.0)], sc, m, 2) is None
    assert "out of order" in compare_topk([(2, 1.0), (1, 1.0)], sc, m, 2)


def test_same_ranking():
    acc = np.array([1.0, 1.0, 0.5])
    sc = (acc, np.array([0, 1, 2]))
    assert same_ranking([(1, 1.0), (2, 1.0)], [(2, 1.0), (1, 1.0)], sc) is None
    assert "docid" in same_ranking([(1, 1.0), (3, 0.5)], [(3, 0.5), (1, 1.0)], sc)
    assert "results" in same_ranking([(1, 1.0)], [], sc)
    for bad in (0, 4):  # docids outside 1..ndocs count as a failure
        assert "out of range" in same_ranking([(bad, 1.0)], [(1, 1.0)], sc)


def test_generator_is_seeded_and_tokenizes_exactly():
    a, b = corpus.generate(7, 300), corpus.generate(7, 300)
    assert np.array_equal(a.tokens, b.tokens)
    assert not np.array_equal(a.tokens[:500], corpus.generate(8, 300).tokens[:500])
    table = corpus.to_arrow(a, 7)
    for i in (0, 17, 299):
        text = table.column("content")[i].as_py()
        assert text == a.text(i)
        assert [a.vocab[t] for t in a.doc_tokens(i)] == text.split(" ")
        assert text == text.lower() and all(w.isalnum() for w in text.split())
