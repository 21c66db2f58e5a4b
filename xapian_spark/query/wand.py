"""Block-max WAND + MaxScore top-k for BATCHES of weighted-OR queries over
the blocked postings table (Planner.search_batch_or, use_wand=True).

The reference's dynamic pruning is iterator-state-driven: operators
propagate w_min and OR decays to AND_MAYBE/AND when the heap threshold
exceeds child maxweights (orpostlist.cc:106-140, postlisttree.h:111-123,
docs/matcherdesign.rst:51-100).  That design is doc-at-a-time; a Spark
re-expression must prune SET-at-a-time, over a whole batch per plan.
batch_wand_topk builds on the per-block exact wdf_max (honey-style,
honey_postlist_encodings.h:26-111) and the BM25 maxpart bound formula
(bm25weight.cc:183-208), with MaxScore essential / non-essential term
splitting (Turtle & Flood, "Query evaluation: strategies and
optimizations", 1995 — the public algorithm Lucene ships as its default
dynamic-pruning strategy), so candidate generation touches only the
selective terms and aggregate input stays proportional to candidates x
query terms rather than postings x queries.

Single queries do not come here: Planner.search serves every shape from
the row-postings plan, which runs fewer Spark jobs than any per-query
pruning pass can save (see Planner.search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xapian_spark.index.blocks import unpack_blocks, unpack_blocks_keyed
from xapian_spark.ranking.weights import GlobalStats, TermStats, Weight


def batch_wand_topk(
    blocked: DataFrame,
    stats: GlobalStats,
    tstats: dict[str, TermStats],
    queries: dict[str, list[str]],
    k: int,
    weight: Weight,
    max_broadcast_candidates: int = 500_000,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """Threshold-aware BATCH serving over blocked postings: exact per-query
    BM25 top-k for many weighted-OR queries in one plan.

    Set-at-a-time MaxScore (Turtle & Flood 1995, the essential/non-essential
    list split Lucene ships as its default dynamic-pruning strategy) layered
    on block-max bounds:

      pass 0: per-query threshold T_q = k-th best single-term score of the
          query's highest-impact term — ONE decode job over the batch's
          star terms, grouped per query (a valid lower bound of each
          query's true k-th best total score).
      split (driver): order each query's terms by maxpart ascending; the
          largest prefix whose maxpart prefix-sum stays < T_q is the
          NON-ESSENTIAL set — a doc containing only those terms is bounded
          by that prefix sum and can never reach T_q.  Every true top-k doc
          therefore contains at least one ESSENTIAL term.
      pass 1 (candidate generation, essential terms only): (query, block)
          block-max pruning as a METADATA-only join — broadcast (query,
          term, termweight, rest, T_q) against the block stats columns;
          keep blocks with maxpart_block + rest >= T_q; decode the union
          of surviving blocks ONCE.  Candidates = their (query, docid)s.
      pass 2 (non-essential lookup): non-essential postings are needed only
          for candidate docs (the skip_to/lookup phase of MaxScore).  When
          the driver-side candidate estimate (sum of essential-term tfs) is
          small, only blocks whose [first_docid, last_docid] range contains
          a candidate are decoded; otherwise decode the non-essential
          blocks once — never a per-query decode.  Either way the scoring
          join runs postings->candidates on docid FIRST, so aggregate input
          is proportional to |candidates| x query terms, not postings x
          queries.

    Exactness: a doc skipped at candidate generation either has only
    non-essential terms (score < prefix-sum < T_q) or sat in a pruned
    essential block (score <= bound < T_q); every true top-k doc of q
    scores >= T_q, has all its blocks surviving, and all its non-essential
    postings looked up — so its score is complete, while partially-scored
    or skipped docs rank strictly below every true top-k member and can
    never displace one.

    Requires a weight with no doc-dependent extra part (maxextra == 0,
    e.g. default BM25 k2=0); the caller falls back to the row-postings
    batch path otherwise.  Returns (query, rank, docid, score).
    """
    from collections import Counter

    from pyspark.sql import Window

    from xapian_spark.ranking.weights import BM25Weight, TradWeight

    # the inlined sumpart/maxpart shapes below are the BM25-family
    # closed forms — guard here, not just in search_batch_or, so a direct
    # caller with e.g. TfIdfWeight gets an error instead of silently
    # BM25-shaped scores
    if not isinstance(weight, (BM25Weight, TradWeight)):
        raise ValueError(
            "batch_wand_topk supports BM25-family weights only "
            f"(got {type(weight).__name__}); use the row-postings batch "
            "path for other schemes"
        )

    spark = blocked.sparkSession
    empty = spark.createDataFrame(
        [], "query string, rank int, docid long, score double"
    )
    # payload v2: no doclen stream in blocks — scoring joins the doclens
    # table back in, candidate-scoped (see blocks.py)
    v2 = "payload_v" in blocked.columns
    if v2 and doclens is None:
        raise ValueError("payload v2 blocked table requires doclens")
    dl = doclens.select("docid", "doclen") if v2 else None
    dl_lb = stats.doclen_lower_bound

    shape = None          # shared k1/b/len_factor/min_normlen constants
    qmeta = {}            # query -> (tws, maxparts, total)
    star_rows = []        # (query, star_term)
    for qname, terms in queries.items():
        tws, maxparts = {}, {}
        for t, nrep in Counter(terms).items():
            ts = tstats.get(t)
            if ts is None or ts.tf == 0:
                continue
            tw = weight.init_term(stats, ts, wqf=nrep)
            tws[t] = tw
            maxparts[t] = tw.maxpart(ts.wdf_max, dl_lb)
            shape = tw
        if not tws:
            continue
        qmeta[qname] = (tws, maxparts, sum(maxparts.values()))
        t_star = max(tws, key=lambda t: (maxparts[t], t))
        star_rows.append((qname, t_star))
    if not qmeta:
        return empty

    def _sumpart(tw_col, wdf, doclen):
        normlen = F.greatest(
            doclen.cast("double") * F.lit(shape.len_factor),
            F.lit(shape.min_normlen),
        )
        denom = (
            F.lit(shape.k1)
            * (normlen * F.lit(shape.b) + F.lit(1.0 - shape.b))
            + wdf.cast("double")
        )
        return tw_col * (wdf.cast("double") / denom)

    def _maxpart(tw_col, wdf_max):
        wm = wdf_max.cast("double")
        if shape.k1 != 0.0 and shape.b != 0.0:
            normlen_lb = F.greatest(
                F.greatest(wm, F.lit(float(dl_lb)))
                * F.lit(shape.len_factor),
                F.lit(shape.min_normlen),
            )
            denom = (
                F.lit(shape.k1)
                * (normlen_lb * F.lit(shape.b) + F.lit(1.0 - shape.b))
                + wm
            )
        else:
            denom = F.lit(shape.k1) + wm
        return F.when(denom > 0, tw_col * (wm / denom)).otherwise(0.0)

    # -- pass 0: per-query thresholds ---------------------------------------
    # Queries sharing a (star term, termweight) pair share a threshold, so
    # dedupe BEFORE the scan: a batch whose queries anchor on the same rare
    # term must not replicate that term's postings once per query.
    star_pairs: dict[tuple, list] = {}  # (term, tw) -> [query, ...]
    for qname, t in star_rows:
        tw = float(qmeta[qname][0][t].termweight)
        star_pairs.setdefault((t, tw), []).append(qname)
    star_tw = spark.createDataFrame(
        [(t, tw) for t, tw in star_pairs], "term string, tw double"
    )
    star_terms = sorted({t for t, _ in star_pairs})
    if postings is not None:
        # row postings available: the threshold scan stays JVM-side
        # (parquet predicate pushdown on term, no Python block decode)
        star_posts = postings.where(
            F.col("term").isin(star_terms)
        ).select("term", "wdf", "doclen")
    else:
        star_posts = unpack_blocks(
            blocked.where(F.col("term").isin(star_terms))
        )
        if v2:
            star_posts = star_posts.join(dl, "docid")
    wq = Window.partitionBy("term", "tw").orderBy(F.desc("s"))
    kth = (
        star_posts.join(F.broadcast(star_tw), "term")
        .select(
            "term", "tw",
            _sumpart(F.col("tw"), F.col("wdf"), F.col("doclen")).alias("s"),
        )
        .withColumn("r", F.row_number().over(wq))
        .where(F.col("r") == k)
        .select("term", "tw", F.col("s").alias("thr"))
        .collect()
    )
    thresholds = {}  # absent -> 0.0
    for r in kth:
        for qname in star_pairs[(r["term"], r["tw"])]:
            thresholds[qname] = r["thr"]

    # -- split (driver): MaxScore essential / non-essential per query -------
    # Ascending-maxpart prefix whose sum stays < T_q is non-essential: docs
    # containing only those terms are bounded below T_q.  T_q = 0 (star
    # term has < k postings) makes every term essential — the degenerate
    # case falls back to pure block-max behavior.
    ess_rows = []         # (query, term, tw, rest, thr)  candidate gen
    non_rows = []         # (query, term, tw)             lookup scoring
    ess_terms = set()     # distinct essential terms across the batch
    for qname, (tws, maxparts, total) in qmeta.items():
        thr = float(thresholds.get(qname, 0.0))
        run, non_ess = 0.0, set()
        for t in sorted(tws, key=lambda t: (maxparts[t], t)):
            if len(non_ess) == len(tws) - 1:
                break  # at least one essential term always remains
            if run + maxparts[t] < thr:
                run += maxparts[t]
                non_ess.add(t)
            else:
                break
        for t, tw in tws.items():
            if t in non_ess:
                non_rows.append((qname, t, float(tw.termweight)))
            else:
                ess_rows.append(
                    (qname, t, float(tw.termweight),
                     float(total - maxparts[t]), thr)
                )
                ess_terms.add(t)
    # driver-side candidate-docset upper bound: the union of candidate
    # docids is at most the union of the DISTINCT essential terms' postings
    # (per-query sums would overcount shared anchor terms by the batch size)
    est_cands = sum(tstats[t].tf for t in ess_terms)

    qt_ess = spark.createDataFrame(
        ess_rows, "query string, term string, tw double, rest double, "
                  "thr double",
    )

    # -- pass 1: candidate generation over essential terms ------------------
    # metadata-only (query, block) block-max pruning, then ONE decode of the
    # union of surviving blocks
    meta = blocked.select("term", "first_docid", "wdf_max")
    surviving = (
        meta.join(F.broadcast(qt_ess), "term")
        .where(
            _maxpart(F.col("tw"), F.col("wdf_max")) + F.col("rest")
            >= F.col("thr")
        )
        .select("query", "term", "first_docid", "tw")
    ).persist()
    sel_blocks = surviving.select("term", "first_docid").distinct()
    posts = unpack_blocks_keyed(
        blocked.join(sel_blocks, ["term", "first_docid"], "left_semi")
    )
    if non_rows or v2:
        # posts feeds the per-query scoring join plus the candidate
        # docset (and, for v2, the doclen attach) — cache the (small,
        # selective-by-design) decoded essential postings rather than
        # their |queries|-times-larger scored join
        posts = posts.persist()
    docset = (
        posts.select("docid").distinct() if (non_rows or v2) else None
    )
    cand_dl = None
    if v2:
        # v2 doclen attach for the candidate docset only: the driver-side
        # bound est_cands gates broadcast vs shuffled equality join —
        # never an unbounded broadcast
        if est_cands <= max_broadcast_candidates:
            cand_dl = dl.join(F.broadcast(docset), "docid", "left_semi")
            sposts = posts.join(F.broadcast(cand_dl), "docid")
        else:
            sposts = posts.join(dl, "docid")
    else:
        sposts = posts
    ess_scored = sposts.join(surviving, ["term", "first_docid"]).select(
        "query", "docid",
        _sumpart(F.col("tw"), F.col("wdf"), F.col("doclen")).alias("part"),
    )

    scored_parts = [ess_scored]
    if non_rows:
        # The lookup key is the query-INDEPENDENT union of candidate docids,
        # not per-(query, docid) pairs: batches whose queries share anchor
        # terms would otherwise duplicate the same docids per query (and a
        # posting->pairs join would blow up by the sharing factor).  Joining
        # a doc's non-essential parts into a query it is NOT a candidate of
        # is harmless: that doc's computed score is bounded by the query's
        # non-essential prefix sum < T_q, so it ranks strictly below every
        # true top-k member (there are >= k docs scoring >= T_q whenever
        # T_q > 0, and T_q = 0 puts every term in the essential set).
        qt_non = spark.createDataFrame(
            non_rows, "query string, term string, tw double"
        )
        non_terms = sorted({t for _, t, _ in non_rows})
        non_blocked = blocked.where(F.col("term").isin(non_terms))
        if est_cands <= max_broadcast_candidates:
            # the skip_to analogue: decode only non-essential blocks whose
            # docid range contains a candidate (broadcast range semi-join
            # on block METADATA — pruned payloads are never read), then
            # keep candidate postings only
            non_blocked = non_blocked.alias("b").join(
                F.broadcast(docset.alias("c")),
                (F.col("c.docid") >= F.col("b.first_docid"))
                & (F.col("c.docid") <= F.col("b.last_docid")),
                "left_semi",
            )
            non_posts = unpack_blocks(non_blocked).join(
                F.broadcast(docset), "docid", "left_semi"
            )
        else:
            # driver estimate says the docset may be too big to broadcast:
            # shuffle semi-join on docid (hash-partitionable at any scale)
            non_posts = unpack_blocks(non_blocked).join(
                docset, "docid", "left_semi"
            )
        if v2:
            # every non_posts docid is in docset (semi-joined above), so
            # the candidate-scoped doclen slice covers it
            if cand_dl is not None:
                non_posts = non_posts.join(F.broadcast(cand_dl), "docid")
            else:
                non_posts = non_posts.join(dl, "docid")
        # candidate postings x the tiny (query, term, tw) broadcast:
        # aggregate input is proportional to |candidate docs| x query
        # terms, never postings x queries
        non_scored = non_posts.join(F.broadcast(qt_non), "term").select(
            "query", "docid",
            _sumpart(F.col("tw"), F.col("wdf"), F.col("doclen")).alias(
                "part"
            ),
        )
        scored_parts.append(non_scored)

    scored = (
        scored_parts[0] if len(scored_parts) == 1
        else scored_parts[0].unionByName(scored_parts[1])
    ).groupBy("query", "docid").agg(F.sum("part").alias("score"))
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("docid"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query", "rank", "docid", "score")
    )
    # Per-query top-k is bounded (|queries| * k rows): materialize it,
    # then explicitly free the persisted (query, block) survivors instead
    # of leaving them to ContextCleaner GC: a long-lived session serving
    # many batches must not pin their partitions until the next GC.
    out = out.localCheckpoint(eager=True)
    surviving.unpersist()
    if non_rows or v2:
        posts.unpersist()
    return out
