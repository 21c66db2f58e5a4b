"""DFR-family + Dice weight schemes vs independent scalar transcriptions.

Expected values are computed here from first principles (formulas
transcribed independently from the reference's weight/*.cc files) over the
brute-force index — no shared code with xapian_spark.ranking.weights.

Reference formulas:
- PL2:    xapian-core/weight/pl2weight.cc:160-175
- PL2+:   xapian-core/weight/pl2plusweight.cc:160-177 (delta=0.8 default)
- DPH:    xapian-core/weight/dphweight.cc:139-156
- DLH:    xapian-core/weight/dlhweight.cc (get_sumpart)
- IfB2:   xapian-core/weight/ifb2weight.cc (get_sumpart)
- IneB2:  xapian-core/weight/ineb2weight.cc (get_sumpart)
- BB2:    xapian-core/weight/bb2weight.cc:38-41,150-180
- Dice:   xapian-core/weight/dicecoeffweight.cc
"""

from __future__ import annotations

import math

import pytest

from tests.oracle import BruteForceIndex
from tests.conftest import SIMPLE_PARAGRAPHS
from xapian_spark.query import ast
from xapian_spark.query.planner import Planner
from xapian_spark.ranking.weights import (
    BB2Weight,
    DiceCoeffWeight,
    DLHWeight,
    DPHWeight,
    IfB2Weight,
    IneB2Weight,
    PL2PlusWeight,
    PL2Weight,
    TermStats,
)

TERM = "paragraph"


@pytest.fixture(scope="module")
def brute():
    return BruteForceIndex({i + 1: t for i, t in enumerate(SIMPLE_PARAGRAPHS)})


def _stats(brute, term):
    post = brute.postings.get(term, {})
    tf = len(post)
    cf = sum(post.values())
    return tf, cf, brute.N, brute.total_len, brute.avg_len


def _collect(planner_df):
    return {
        r["docid"]: r["score"]
        for r in planner_df.collect()
    }


def pl2_expected(brute, term, c=1.0, delta=None):
    tf, cf, N, total, avg = _stats(brute, term)
    cl = c * avg
    base_change = 1.0 / math.log(2.0)
    mean = cf / N
    P1 = mean * base_change + 0.5 * math.log2(2.0 * math.pi)
    P2 = math.log2(mean) + base_change
    dw = 0.0
    if delta is not None:
        P_delta = P1 + (delta + 0.5) * math.log2(delta) - P2 * delta
        dw = P_delta / (delta + 1.0)
    out = {}
    for docid, wdf in brute.postings.get(term, {}).items():
        if wdf == 0 or (delta is not None and mean < 1):
            continue
        ln = brute.doclen[docid]
        wdfn = wdf * math.log2(1 + cl / ln)
        P = P1 + (wdfn + 0.5) * math.log2(wdfn) - P2 * wdfn
        if delta is None:
            if P <= 0:
                continue
            out[docid] = P / (wdfn + 1.0)
        else:
            wt = P / (wdfn + 1.0) + dw
            if wt <= 0:
                continue
            out[docid] = wt
    return out


def dph_expected(brute, term):
    tf, cf, N, total, avg = _stats(brute, term)
    log_const = math.log2(total / cf)
    out = {}
    for docid, wdf in brute.postings.get(term, {}).items():
        ln = brute.doclen[docid]
        if wdf == 0 or wdf == ln:
            continue
        r = wdf / ln
        norm = (1 - r) ** 2 / (wdf + 1)
        wt = norm * (
            wdf * (math.log2(r) + log_const)
            + 0.5 * math.log2(2 * math.pi * wdf * (1 - r))
        )
        if wt > 0:
            out[docid] = wt
    return out


def dlh_expected(brute, term):
    tf, cf, N, total, avg = _stats(brute, term)
    L = total / cf
    out = {}
    for docid, wdf in brute.postings.get(term, {}).items():
        ln = brute.doclen[docid]
        if wdf == 0 or wdf == ln:
            continue
        r = wdf / ln
        wt = (
            wdf * math.log2(r * L)
            + (ln - wdf) * math.log2(1 - r)
            + 0.5 * math.log2(2 * math.pi * wdf * (1 - r))
        )
        if wt > 0:
            out[docid] = wt / (wdf + 0.5)
    return out


def ifb2_expected(brute, term, c=1.0, expected_idf=False):
    tf, cf, N, total, avg = _stats(brute, term)
    if expected_idf:
        mean = cf / N
        exp_tf = N * (1.0 - math.exp(-mean))
        idf = math.log2((N + 1.0) / (exp_tf + 0.5))
    else:
        idf = math.log2((N + 1.0) / (cf + 0.5))
    B = (cf + 1.0) / tf
    out = {}
    for docid, wdf in brute.postings.get(term, {}).items():
        if wdf == 0:
            continue
        ln = brute.doclen[docid]
        wdfn = wdf * math.log2(1 + c * avg / ln)
        out[docid] = idf * wdfn * B / (wdfn + 1.0)
    return out


def bb2_expected(brute, term, c=1.0):
    tf, cf, N, total, avg = _stats(brute, term)
    Nc = 2.0 if N <= 2 else float(N)
    wt0 = -1.0 / math.log(2.0) - math.log2(Nc - 1.0)
    sc1 = math.log2(Nc + cf - 1.0)
    sc2 = math.log2(cf)
    B_const = (cf + 1.0) / tf

    def stirling(diff, y, const):
        return (y + 0.5) * (const - math.log2(y)) + diff * const

    out = {}
    for docid, wdf in brute.postings.get(term, {}).items():
        if wdf == 0:
            continue
        ln = brute.doclen[docid]
        wdfn = wdf * math.log2(1 + c * avg / ln)
        if wdfn >= cf - 1:
            wdfn = cf - 1
        if wdfn <= 0:
            continue
        nl2 = 0 if N <= 2 else N - 2
        y2 = cf - wdfn
        y1 = nl2 + y2
        st = stirling(wdfn + 1.0, y1, sc1) - stirling(wdfn, y2, sc2)
        w = B_const / (wdfn + 1.0) * (wt0 + st)
        if w > 0:
            out[docid] = w
    return out


WEIGHT_CASES = [
    ("pl2", PL2Weight, lambda b: pl2_expected(b, TERM)),
    ("pl2plus", PL2PlusWeight, lambda b: pl2_expected(b, TERM, delta=0.8)),
    ("dph", DPHWeight, lambda b: dph_expected(b, TERM)),
    ("dlh", DLHWeight, lambda b: dlh_expected(b, TERM)),
    ("ifb2", IfB2Weight, lambda b: ifb2_expected(b, TERM)),
    ("ineb2", IneB2Weight, lambda b: ifb2_expected(b, TERM, expected_idf=True)),
    ("bb2", BB2Weight, lambda b: bb2_expected(b, TERM)),
]


@pytest.mark.parametrize("name,cls,expected_fn", WEIGHT_CASES)
def test_dfr_scores_match_reference_formula(
    simple_index, brute, name, cls, expected_fn
):
    planner = Planner(simple_index, weight=cls())
    got = _collect(
        planner.search(ast.Term(TERM), k=10).select("docid", "score")
    )
    want = expected_fn(brute)
    # zero-weight docs still match (they contain the term) with score 0
    for docid in brute.postings.get(TERM, {}):
        want.setdefault(docid, 0.0)
    assert set(got) == set(want), name
    for docid, w in want.items():
        assert got[docid] == pytest.approx(w, abs=1e-9), (name, docid)


@pytest.mark.parametrize("name,cls,expected_fn", WEIGHT_CASES)
def test_dfr_maxpart_bounds_sumpart(brute, name, cls, expected_fn):
    """Pruning safety: term-level maxpart >= every realized sumpart."""
    from xapian_spark.ranking.weights import GlobalStats

    post = brute.postings.get(TERM, {})
    gs = GlobalStats(
        doccount=brute.N,
        total_doclen=brute.total_len,
        doclen_lower_bound=min(brute.doclen.values()),
        doclen_upper_bound=max(brute.doclen.values()),
    )
    ts = TermStats(
        term=TERM,
        tf=len(post),
        cf=sum(post.values()),
        wdf_max=max(post.values()),
    )
    tw = cls().init_term(gs, ts)
    bound = tw.maxpart(ts.wdf_max, gs.doclen_lower_bound)
    for docid, wdf in post.items():
        sp = tw.sumpart_py(wdf, brute.doclen[docid])
        assert sp <= bound + 1e-9, (name, docid, sp, bound)


def test_dice_coefficient(simple_index, brute):
    """score = sum over matching query terms of 2/(qlen + uniqterms);
    uniqterms counts the full termlist incl. the L/R prefix field terms
    added by the fixture index (2 per doc)."""
    q = ast.Or((ast.Term("search"), ast.Term("ranking")))
    planner = Planner(simple_index, weight=DiceCoeffWeight())
    got = _collect(
        planner.search(q, k=10).select("docid", "score")
    )
    qlen = 2
    want = {}
    for t in ("search", "ranking"):
        for docid in brute.postings.get(t, {}):
            uniq = (
                len({tt for tt, docs in brute.postings.items()
                     if docid in docs}) + 2  # + L<lang> and R<repo> terms
            )
            want[docid] = want.get(docid, 0.0) + 2.0 / (qlen + uniq)
    assert set(got) == set(want)
    for docid, w in want.items():
        assert got[docid] == pytest.approx(w, abs=1e-9), docid


def test_pl2_maxpart_safe_for_high_frequency_terms():
    """Regression: the reference bound (pl2weight.cc:118) picks the wrong
    end of the decreasing (P1 - P2*w)/(w+1) component when P1+P2 > 0,
    which under-bounds high-frequency terms (mean >= 1); our divergent
    bound must dominate every realizable sumpart."""
    from xapian_spark.ranking.weights import GlobalStats, PL2Weight

    gs = GlobalStats(
        doccount=1000, total_doclen=100000,
        doclen_lower_bound=1, doclen_upper_bound=10000,
    )
    ts = TermStats(term="t", tf=900, cf=10000, wdf_max=20)
    tw = PL2Weight().init_term(gs, ts)
    bound = tw.maxpart(ts.wdf_max, gs.doclen_lower_bound)
    for wdf in (1, 2, 5, 10, 20):
        for dl in (1, 10, 100, 1000, 10000):
            if wdf > dl:
                continue
            sp = tw.sumpart_py(wdf, dl)
            assert sp <= bound + 1e-9, (wdf, dl, sp, bound)


def test_wand_rejects_uniqterms_weights(simple_index):
    """DiceCoeffWeight needs uniqterms, which blocked postings lack —
    batched WAND must fail loudly, naming the weight, not with an
    unresolved-column error."""
    import pytest as _pytest

    from xapian_spark.index.blocks import pack_blocks
    from xapian_spark.query.planner import Planner
    from xapian_spark.query.wand import batch_wand_topk

    blocked = pack_blocks(simple_index.postings)
    tstats = simple_index.collect_term_stats(["paragraph"])
    with _pytest.raises(ValueError, match="DiceCoeffWeight"):
        batch_wand_topk(
            blocked, simple_index.stats, tstats, {"q": ["paragraph"]}, 5,
            DiceCoeffWeight(),
        )
    with _pytest.raises(ValueError, match="DiceCoeffWeight"):
        Planner(simple_index, weight=DiceCoeffWeight()).search_batch_or(
            {"q": ["paragraph"]}, k=5, use_wand=True
        )


def test_dice_batch_matches_single(simple_index):
    """Regression: plan_batch must bake each query's own query_length
    into the Dice constants, same as plan()."""
    from xapian_spark.query.planner import Planner

    q = ast.Or((ast.Term("search"), ast.Term("ranking")))
    single = {
        (r["docid"], round(r["score"], 9))
        for r in Planner(simple_index, weight=DiceCoeffWeight())
        .search(q, k=10).select("docid", "score").collect()
    }
    batch = {
        (r["docid"], round(r["score"], 9))
        for r in Planner(simple_index, weight=DiceCoeffWeight())
        .search_batch({"q": q}, k=10).select("docid", "score").collect()
    }
    assert single == batch
