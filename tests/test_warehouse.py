"""Warehouse build: checkpointed stages, resumability, invariants
(xapian-check style, bin/xapian-check.cc), blocked-layout roundtrip,
block-max WAND batch safety (exact top-k equivalence, the matcherdesign.rst
pruning contract) and the single-query serving path."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from xapian_spark.index import merge
from xapian_spark.index.blocks import pack_blocks, unpack_blocks, vbyte_decode, vbyte_encode
from xapian_spark.query import ast
from xapian_spark.query.planner import Planner
from xapian_spark.query.wand import batch_wand_topk
from xapian_spark.ranking.weights import BM25Weight


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
    )


@pytest.fixture(scope="module")
def wh(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wh") / "index")
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=4, block_size=16,
    )
    return path


def test_vbyte_edge_cases():
    import numpy as np

    for arr in ([], [0], [127, 128, 129], [2**40, 0, 1]):
        a = np.array(arr, dtype=np.uint64)
        out = vbyte_decode(vbyte_encode(a))
        assert list(out) == arr


def test_warehouse_complete(wh):
    assert merge.warehouse_complete(wh)
    meta_dir = os.path.join(wh, "_meta")
    names = set(os.listdir(meta_dir))
    assert "termlists.json" in names and "runs.json" in names
    assert "stats.json" in names
    # per-range lineage records exist
    assert any(n.startswith("blocked_range_") for n in names)


def test_invariants(spark, corpus, wh):
    out = merge.verify_invariants(
        spark, wh, corpus, content_col="text", docid_col="docid"
    )
    assert all(v == 0 for v in out.values()), out


def test_blocked_roundtrip_identity(spark, wh):
    runs = spark.read.parquet(os.path.join(wh, "runs"))
    blocked = spark.read.parquet(os.path.join(wh, "blocked"))
    a = (
        runs.select("term", "docid", "wdf", "doclen")
        .orderBy("term", "docid")
        .collect()
    )
    b = (
        unpack_blocks(blocked)
        .orderBy("term", "docid")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_blocks_bounded_and_sorted(spark, wh):
    blocked = spark.read.parquet(os.path.join(wh, "blocked"))
    rows = blocked.select("term", "first_docid", "last_docid", "n").collect()
    assert all(r["n"] <= 16 for r in rows)
    assert all(r["first_docid"] <= r["last_docid"] for r in rows)
    # blocks of one term have disjoint docid ranges
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(
            (r["first_docid"], r["last_docid"])
        )
    for t, spans in by_term.items():
        spans.sort()
        for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
            assert b1 < a2, (t, spans)


def test_resumable_build(spark, corpus, tmp_path):
    """Kill the build mid-stage-2, rerun, verify identical output and that
    completed ranges were NOT recomputed (mtime unchanged)."""
    path = str(tmp_path / "wh_resume")
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=4, block_size=16, stop_after_range=2,
    )
    assert not merge.warehouse_complete(path)
    done_metas = [
        n for n in os.listdir(os.path.join(path, "_meta"))
        if n.startswith("blocked_range_")
    ]
    assert len(done_metas) == 2
    mtimes = {
        n: os.path.getmtime(os.path.join(path, "_meta", n))
        for n in done_metas
    }
    # resume
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=4, block_size=16,
    )
    assert merge.warehouse_complete(path)
    for n, mt in mtimes.items():
        assert os.path.getmtime(os.path.join(path, "_meta", n)) == mt, (
            f"{n} was recomputed on resume"
        )
    out = merge.verify_invariants(
        spark, path, corpus, content_col="text", docid_col="docid"
    )
    assert all(v == 0 for v in out.values()), out
    shutil.rmtree(path)


def _or(terms):
    return ast.Or(tuple(ast.Term(t) for t in terms))


def _single(pl, terms, k=10):
    return [(r["docid"], r["score"])
            for r in pl.search(_or(terms), k=k).collect()]


def _batch(pl, terms, use_wand, k=10):
    return [
        (r["docid"], r["score"])
        for r in pl.search_batch_or({"q": terms}, k=k, use_wand=use_wand)
        .orderBy("rank").collect()
    ]


def _assert_same_topk(got, want, rel=1e-9):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=rel)


@pytest.mark.parametrize(
    "terms",
    [["dup"], ["dup", "vector"], ["scan", "key", "line"],
     ["batch", "small", "scan", "agg", "the"]],
)
def test_wand_exact_topk(spark, wh, terms):
    """Single-query search, batched block-max WAND and the unpruned
    row-postings batch agree on the exact top-k: batch WAND pruning is
    safe, and the single-query planner ranks as both batch paths do."""
    pl = Planner(merge.read_warehouse(spark, wh))
    single = _single(pl, terms)
    assert single
    _assert_same_topk(_batch(pl, terms, use_wand=True), single)
    _assert_same_topk(_batch(pl, terms, use_wand=False), single)


def test_wand_matches_planner(spark, wh):
    """Rank identity between the batched blocked/WAND path and the
    single-query Planner path for a weighted-OR query."""
    idx = merge.read_warehouse(spark, wh)
    terms = ["dup", "vector", "fast"]
    pl = Planner(idx)
    single = _single(pl, terms)
    _assert_same_topk(_batch(pl, terms, use_wand=True), single, rel=1e-12)
    _assert_same_topk(_batch(pl, terms, use_wand=False), single, rel=1e-12)


@pytest.mark.parametrize("terms", [["dup"], ["scan", "key", "line"]])
def test_wand_sumextra_exact(spark, wh, terms):
    """BM25 k2 > 0 has a doc-dependent sumextra (bm25weight.cc), added once
    per matching doc: single-query search must score it exactly as the
    batched planner (search_batch) does, and it must move the scores."""
    idx = merge.read_warehouse(spark, wh)
    pl = Planner(idx, weight=BM25Weight(k2=1.0))
    got = [(r["docid"], round(r["score"], 9))
           for r in pl.search(_or(terms), k=10).collect()]
    want = [
        (r["docid"], round(r["score"], 9))
        for r in pl.search_batch({"q": _or(terms)}, k=10)
        .orderBy("rank").collect()
    ]
    assert got == want
    plain = _single(Planner(idx), terms)
    assert [round(s, 9) for _, s in plain] != [s for _, s in got]


def test_wand_large_candidate_fallback(spark, wh):
    """max_broadcast_candidates=0 forces the shuffled equality semi-joins
    (the path taken when the candidate estimate is too big to broadcast);
    results must be identical to the broadcast path."""
    idx = merge.read_warehouse(spark, wh)
    queries = {"q1": ["dup", "vector"], "q2": ["scan", "key", "line"],
               "q3": ["batch", "small", "scan", "agg", "the"]}
    tstats = idx.collect_term_stats(
        sorted({t for ts in queries.values() for t in ts})
    )
    w = BM25Weight()

    def run(**kw):
        return [
            (r["query"], r["rank"], r["docid"], round(r["score"], 9))
            for r in batch_wand_topk(idx.blocked, idx.stats, tstats, queries,
                                     10, w, **kw)
            .orderBy("query", "rank").collect()
        ]

    a = run(max_broadcast_candidates=0)
    assert a and a == run()


def test_search_weighted_or_takes_row_plan(spark, wh, monkeypatch):
    """Weighted-OR search over a warehouse index is served by the
    row-postings plan, never by wand.py, and still rank-matches plan()."""
    from xapian_spark.query import wand

    idx = merge.read_warehouse(spark, wh)
    pl = Planner(idx)
    called = []
    for name, fn in list(vars(wand).items()):
        if callable(fn) and getattr(fn, "__module__", None) == wand.__name__:
            monkeypatch.setattr(
                wand, name,
                lambda *a, _n=name, **kw: called.append(_n),
            )
    node = _or(["dup", "vector"])
    got = pl.search(node, k=10).collect()
    assert not called, f"search() called into wand.py: {called}"
    brute = (
        pl.plan(node).orderBy(F.desc("score"), "docid").limit(10).collect()
    )
    assert got and [r["docid"] for r in got] == [r["docid"] for r in brute]
    pl.search(ast.And((ast.Term("dup"), ast.Term("vector"))), k=10).collect()
    assert not called


def _jobs_of(spark, fn):
    """Spark job ids run by fn(), read from its own job group."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(gid)


def test_search_weighted_or_job_count(spark, wh):
    """A single weighted-OR query runs at most 3 Spark jobs (term-stats
    collect, the groupBy(docid) stage, the final collect), and at most 2
    once its terms' stats are cached: a per-query pruning pass with its
    own threshold, gate and checkpoint jobs would fail this."""
    pl = Planner(merge.read_warehouse(spark, wh))
    node = _or(["scan", "key", "line"])
    cold = _jobs_of(spark, lambda: pl.search(node, k=10).collect())
    warm = _jobs_of(spark, lambda: pl.search(node, k=10).collect())
    assert 0 < len(cold) <= 3, cold
    assert 0 < len(warm) <= 2, warm


def test_batch_wand_matches_row_path(spark, wh):
    """Batched block-max serving (batch_wand_topk) must be rank- and
    score-identical to the row-postings batch path for every query."""
    idx = merge.read_warehouse(spark, wh)
    queries = {
        "q1": ["dup"],
        "q2": ["dup", "vector"],
        "q3": ["scan", "key", "line"],
        "q4": ["batch", "small", "scan", "agg", "the"],
        "q5": ["zzznothere"],
        "q6": ["dup", "dup", "fast"],  # repeated term -> wqf 2
    }
    pl = Planner(idx)
    got = (
        pl.search_batch_or(queries, k=10, use_wand=True)
        .orderBy("query", "rank")
        .collect()
    )
    # row-postings reference (the default batch path)
    want = (
        pl.search_batch_or(queries, k=10)
        .orderBy("query", "rank")
        .collect()
    )
    assert [(r["query"], r["rank"], r["docid"]) for r in got] == [
        (r["query"], r["rank"], r["docid"]) for r in want
    ]
    for a, b in zip(got, want):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)
    # and the WAND path was actually taken (sanity: direct call agrees)
    tstats = idx.collect_term_stats(sorted({t for ts in queries.values() for t in ts}))
    direct = (
        batch_wand_topk(idx.blocked, idx.stats, tstats, queries, 10,
                        BM25Weight())
        .orderBy("query", "rank").collect()
    )
    assert [(r["query"], r["docid"]) for r in direct] == [
        (r["query"], r["docid"]) for r in got
    ]


def test_range_id_binary_tree_matches_linear_count(spark):
    # _range_id_col is a balanced WHEN tree (binary search over the sorted
    # boundary terms); pin it against the definition it replaced — range_id
    # = number of boundary terms <= term — across boundary-exact, between,
    # below-all and above-all inputs, for 1..9 boundaries (odd/even splits).
    import string

    for n_marks in (1, 2, 3, 4, 7, 9):
        marks = [string.ascii_lowercase[2 * i + 1] for i in range(n_marks)]
        probes = list(string.ascii_lowercase[: 2 * n_marks + 2]) + ["", "zz"]
        df = spark.createDataFrame([(t,) for t in probes], "term string")
        got = {
            r["term"]: r["rid"]
            for r in df.withColumn(
                "rid", merge._range_id_col(marks)
            ).collect()
        }
        want = {t: sum(1 for m in marks if t >= m) for t in probes}
        assert got == want, f"marks={marks}"


def test_runs_layout_orders_align(spark, wh):
    # the stage-1b write sorts by (range_id, term, docid) so the
    # partitioned writer's required ordering is pre-satisfied; that is only
    # equivalent to (term, docid) order if range_id is monotone in term.
    # Verify on the built warehouse: global (term, docid) order == global
    # (range_id, term, docid) order.
    runs = spark.read.parquet(os.path.join(wh, "runs"))
    a = [(r["term"], r["docid"])
         for r in runs.orderBy("term", "docid").collect()]
    b = [(r["term"], r["docid"])
         for r in runs.orderBy("range_id", "term", "docid").collect()]
    assert a == b


def test_reference_docdata(spark, tmp_path):
    """docdata="reference": no `docs/` rewrite — the commit marker records
    the source path + its stable id column, and readers resolve document
    data lazily from the lake.  At 10^12 files copying the corpus into the
    index doubles storage and build IO; the index must be able to just
    point at the immutable source.  Contract: the recorded source id
    column must EQUAL the build docid (the CLI passes --id-col for
    exactly this reason); everything else — termlists, postings, blocks,
    invariants — is identical to copy mode."""
    corpus = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
    )
    # the "lake" table: a stable parquet with the id column included
    src = str(tmp_path / "lake_src")
    corpus.write.parquet(src)
    path = str(tmp_path / "refidx")
    merge.build_warehouse(
        spark, spark.read.parquet(src), path,
        content_col="text", docid_col="docid",
        n_ranges=2, docdata="reference", docdata_source=src,
        docdata_source_docid_col="docid",
    )
    assert merge.warehouse_complete(path)
    assert not os.path.exists(os.path.join(path, "docs"))

    # read side resolves the full source row set, lazily, with ALIGNED ids
    idx = merge.read_warehouse(spark, path)
    assert idx.docs.count() == corpus.count()
    assert "text" in idx.docs.columns
    tl = spark.read.parquet(os.path.join(path, "termlists"))
    joined = tl.select("docid").join(idx.docs, "docid").count()
    assert joined == corpus.count()  # every indexed docid resolves a row
    live = merge.live_docs(spark, path)
    assert live is not None and live.count() == corpus.count()

    # invariants hold exactly as in copy mode
    inv = merge.verify_invariants(
        spark, path, corpus, content_col="text", docid_col="docid"
    )
    assert all(v == 0 for v in inv.values()), inv

    # and the index serves normally

    hits = Planner(idx).search(ast.Term("dup"), k=5).collect()
    assert len(hits) == 5


def test_batch_auto_path_selection_matches_row_path(spark, wh):
    """use_wand="auto" (measured WAND/row routing) must be rank- and
    score-identical to the row-postings path on BOTH exploration batches
    (each served whole by one path) and on the committed calls (cached
    decision routes the whole batch), and must cache a decision."""

    idx = merge.read_warehouse(spark, wh)
    queries = {
        f"q{i}": ts
        for i, ts in enumerate([
            ["dup"], ["dup", "vector"], ["scan", "key", "line"],
            ["batch", "small", "scan", "agg", "the"], ["zzznothere"],
            ["dup", "dup", "fast"], ["vector", "line"], ["key"],
            ["scan", "vector"], ["fast", "batch"], ["line"], ["agg"],
        ])
    }
    pl = Planner(idx)
    want = [
        (r["query"], r["rank"], r["docid"], round(r["score"], 9))
        for r in pl.search_batch_or(queries, k=10)
        .orderBy("query", "rank").collect()
    ]
    # exploration batch 1: whole batch via WAND
    got_p1 = [
        (r["query"], r["rank"], r["docid"], round(r["score"], 9))
        for r in pl.search_batch_or(queries, k=10, use_wand="auto")
        .orderBy("query", "rank").collect()
    ]
    assert got_p1 == want
    assert pl._auto_decision["path"] is None  # mid-exploration marker
    # exploration batch 2: whole batch via row; decision commits
    got_p2 = [
        (r["query"], r["rank"], r["docid"], round(r["score"], 9))
        for r in pl.search_batch_or(queries, k=10, use_wand="auto")
        .orderBy("query", "rank").collect()
    ]
    assert got_p2 == want
    dec = pl._auto_decision
    assert dec["path"] in ("wand", "row")
    assert dec["wand_sec_per_q"] > 0 and dec["row_sec_per_q"] > 0
    # committed: later batches (any size) ride the winner
    got_p3 = [
        (r["query"], r["rank"], r["docid"], round(r["score"], 9))
        for r in pl.search_batch_or(queries, k=10, use_wand="auto")
        .orderBy("query", "rank").collect()
    ]
    assert got_p3 == want
    assert pl._auto_decision["age"] == 1
    small = {"s1": ["dup"], "s2": ["key"], "s3": ["line"]}
    pl.search_batch_or(small, k=5, use_wand="auto").collect()
    assert pl._auto_decision["age"] == 2


# -- blocked payload v2 (doclen stream elided; blocks.py module docstring) ---


@pytest.fixture(scope="module")
def wh2(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wh2") / "index")
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=4, block_size=16, payload_v=2,
    )
    return path


def test_v2_blocked_smaller_and_selfdescribing(spark, wh, wh2):
    """v2 blocks carry the payload_v marker, pack strictly fewer payload
    bytes than v1 (the whole doclen stream), and decode to the same
    postings (modulo the absent doclen column)."""
    b1 = spark.read.parquet(os.path.join(wh, "blocked"))
    b2 = spark.read.parquet(os.path.join(wh2, "blocked"))
    assert "payload_v" not in b1.columns and "payload_v" in b2.columns
    s1 = b1.agg(F.sum(F.length("payload"))).first()[0]
    s2 = b2.agg(F.sum(F.length("payload"))).first()[0]
    assert s2 < s1, (s1, s2)
    p1 = sorted(
        (r["term"], r["docid"], r["wdf"])
        for r in unpack_blocks(b1).collect()
    )
    p2 = sorted(
        (r["term"], r["docid"], r["wdf"])
        for r in unpack_blocks(b2).collect()
    )
    assert p1 == p2
    assert "doclen" not in unpack_blocks(b2).columns
    # resume pin: the ranges meta records the committed payload version
    assert merge._read_meta(wh2, "ranges")["payload_v"] == 2


def test_v2_wand_matches_v1_and_brute(spark, wh, wh2):
    """Serving over a v2 warehouse must equal serving over v1: the
    single-query planner, and batched WAND (candidate-scoped doclen join)
    against the unpruned row path."""
    idx1 = merge.read_warehouse(spark, wh)
    idx2 = merge.read_warehouse(spark, wh2)
    w = BM25Weight()
    for terms in (["dup"], ["dup", "vector"], ["scan", "key", "line"]):
        got = [(d, round(sc, 9)) for d, sc in _single(Planner(idx2), terms)]
        v1 = [(d, round(sc, 9)) for d, sc in _single(Planner(idx1), terms)]
        assert got and got == v1
    # missing doclens raises loudly instead of silently misdecoding
    with pytest.raises(ValueError, match="doclens"):
        batch_wand_topk(idx2.blocked, idx2.stats,
                        idx2.collect_term_stats(["dup"]), {"q": ["dup"]},
                        10, w)
    # batch path (MaxScore + block-max) through the planner, which wires
    # doclens automatically
    queries = {
        "q1": ["dup"], "q2": ["dup", "vector"],
        "q3": ["batch", "small", "scan", "agg", "the"],
        "q4": ["zzznothere"], "q5": ["dup", "dup", "fast"],
    }
    got_b = [
        (r["query"], r["rank"], r["docid"], round(r["score"], 9))
        for r in Planner(idx2).search_batch_or(queries, k=10, use_wand=True)
        .orderBy("query", "rank").collect()
    ]
    want_b = [
        (r["query"], r["rank"], r["docid"], round(r["score"], 9))
        for r in Planner(idx1).search_batch_or(queries, k=10)
        .orderBy("query", "rank").collect()
    ]
    assert got_b == want_b


def test_v2_integrity_check(spark, corpus, wh2):
    """verify_invariants' blocked-vs-runs invariant is version-agnostic
    (posting count + wdf mass need no doclen stream), and the rest of the
    whole-write-path check holds for a v2 warehouse."""
    out = merge.verify_invariants(
        spark, wh2, corpus, content_col="text", docid_col="docid"
    )
    assert all(v == 0 for v in out.values()), out


def test_resume_payload_v_mismatch_raises(spark, corpus, tmp_path):
    """An explicit payload_v that conflicts with a resumed build's
    committed version must raise (silent substitution would make an
    operator's v2 A/B measure the wrong format); payload_v=None defers
    to the committed version."""
    path = str(tmp_path / "wh_vmismatch")
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=4, block_size=16, payload_v=2, stop_after_range=1,
    )
    with pytest.raises(ValueError, match="payload_v mismatch"):
        merge.build_warehouse(
            spark, corpus, path, content_col="text", docid_col="docid",
            n_ranges=4, block_size=16, payload_v=1,
        )
    # None resumes with the committed v2 and completes
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=4, block_size=16,
    )
    assert merge.warehouse_complete(path)
    blocked = spark.read.parquet(os.path.join(path, "blocked"))
    assert "payload_v" in blocked.columns
    shutil.rmtree(path)


def test_mixed_payload_versions_fail_loudly(spark, wh, wh2):
    """A v1 blocked table unioned by name into a v2 one has null payload_v
    rows; decoding them with the v2 stride would yield wrong postings, so
    the decode raises instead."""
    import pandas as pd

    from xapian_spark.index.blocks import _decode_block_batch

    b1 = spark.read.parquet(os.path.join(wh, "blocked"))
    b2 = spark.read.parquet(os.path.join(wh2, "blocked"))
    mixed = b2.unionByName(b1, allowMissingColumns=True)
    with pytest.raises(Exception, match="mixed payload versions"):
        unpack_blocks(mixed).collect()
    rows = b2.limit(2).toPandas()
    rows["payload_v"] = pd.array([2, None], dtype="Int32")
    with pytest.raises(ValueError, match="mixed payload versions"):
        _decode_block_batch(rows)
    rows["payload_v"] = pd.array([2, 1], dtype="Int32")
    with pytest.raises(ValueError, match="mixed payload versions"):
        _decode_block_batch(rows)
