"""AST -> DataFrame plan builder (the match engine).

Spark-first re-expression of the reference match pipeline
(`Enquire::get_mset`, `xapian-core/matcher/matcher.cc:314-551`):

- pass 1 (stats): one tiny driver-side collect of per-term stats for the
  query's terms (matcher.cc:314-337 gathers the same numbers per shard).
- pass 2 (match): ONE scan of the postings table filtered to the query's
  terms (Catalyst pushes `term IN (...)` + column pruning into the Parquet
  scan), aggregated into a per-doc term->(wdf, positions) map; every boolean
  operator (AND/OR/AND_NOT/AND_MAYBE/FILTER/XOR/MAX/SYNONYM) then becomes a
  pure column expression over that map — zero extra shuffles, zero joins,
  whole-stage-codegen end to end.  The reference walks posting lists doc at
  a time (DAAT, postlisttree.h:111-160); a set-at-a-time groupBy is the
  idiomatic Spark equivalent with identical final semantics.
- weights: per-term constants precomputed on the driver
  (Weight::init, weight.h:245-275) and baked into the expression as
  literals; the per-doc score is an expression-tree sum in fixed AST order
  (deterministic float summation, unlike SUM over rows).
- top-k: orderBy(score desc, docid asc).limit(k) -> Catalyst
  TakeOrderedAndProject = per-partition partial top-k + driver merge, the
  distributed analogue of the reference's ProtoMSet min-heap
  (protomset.h:300-404); tie-break matches msetcmp_by_relevance
  (msetcmp.cc:56-60, FORWARD_DID).

Positional ops run as Arrow-batched post-filters on AND survivors only,
mirroring SelectPostList::test_doc (selectpostlist.cc).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xapian_spark.index.builder import InvertedIndex
from xapian_spark.query import ast
from xapian_spark.query.positional import near_match, phrase_match
from xapian_spark.ranking.weights import BM25Weight, TermStats, Weight

_EMPTY_TS = lambda t: TermStats(term=t, tf=0, cf=0, wdf_max=0)  # noqa: E731


def _phrase_udf(window: int, ordered: bool):
    fn = phrase_match if ordered else near_match

    def _check(cols: pd.Series) -> pd.Series:
        out = []
        for pls in cols:
            if pls is None or any(pl is None for pl in pls):
                out.append(False)
            else:
                out.append(fn([list(pl) for pl in pls], window))
        return pd.Series(out)

    return F.pandas_udf(_check, T.BooleanType())


@dataclass
class _Ev:
    match: Column
    weight: Column  # valid where `match`; may be nonzero on partial matches


def _gated(e: _Ev) -> Column:
    """Weight contribution of a subquery inside a combiner that does not
    require the subquery to match (OR/XOR/AND_MAYBE-right): zero unless the
    subquery ITSELF matches.  Term weights are already self-gated; this
    matters for composite children (AND/PHRASE/NEAR) whose weight sums
    member terms that can be present without the composite matching."""
    return F.when(e.match, e.weight).otherwise(0.0)


class Planner:
    """Plans one query against one index."""

    def __init__(self, index: InvertedIndex, weight: Weight | None = None):
        self.index = index
        self.weight = weight if weight is not None else BM25Weight()

    # -- AST preparation ----------------------------------------------------

    def _expand(self, node: ast.Node) -> ast.Node:
        """Expand OP_WILDCARD against the term dictionary
        (queryinternal.cc:1891-1945)."""
        if isinstance(node, ast.Wildcard):
            if node.multi or node.single:
                terms = self.index.expand_wildcard_pattern(
                    node.pattern, multi=node.multi, single=node.single,
                    limit=node.limit or None,
                    most_frequent=node.most_frequent,
                    limit_mode=getattr(node, "limit_mode", "error"),
                )
            else:
                terms = self.index.expand_wildcard(
                    node.pattern, limit=node.limit or None,
                    most_frequent=node.most_frequent,
                    limit_mode=getattr(node, "limit_mode", "error"),
                )
            if not terms:
                return ast.MatchNothing()
            subs = tuple(ast.Term(t) for t in terms)
            if node.combiner == "or":
                return subs[0] if len(subs) == 1 else ast.Or(subs)
            return subs[0] if len(subs) == 1 else ast.Synonym(subs)
        if isinstance(node, ast.EditDistance):
            terms = self.index.expand_edit_distance(
                node.pattern, max_edit=node.max_edit, prefix=node.prefix
            )
            if not terms:
                return ast.MatchNothing()
            subs = tuple(ast.Term(t) for t in terms)
            if node.combiner == "or":
                return subs[0] if len(subs) == 1 else ast.Or(subs)
            return subs[0] if len(subs) == 1 else ast.Synonym(subs)
        if isinstance(node, ast.EliteSet):
            subs = [self._expand(s) for s in node.subs]
            subs = [s for s in subs if not isinstance(s, ast.MatchNothing)]
            if not subs:
                return ast.MatchNothing()
            if len(subs) > node.set_size:
                # rank by maxweight (queryinternal.cc:433-439); Terms get
                # their BM25 maxpart, composite subs are kept preferentially
                terms = sorted(
                    {t.term for s in subs for t in ast.leaf_terms(s)}
                )
                tstats = self.index.collect_term_stats(terms)

                def key(s: ast.Node):
                    if isinstance(s, ast.Term):
                        ts = tstats.get(s.term)
                        if ts is None or ts.tf == 0:
                            return (1.0, "", s.term)
                        tw = self.weight.init_term(
                            self.index.stats, ts, wqf=s.wqf
                        )
                        mp = tw.maxpart(
                            ts.wdf_max, self.index.stats.doclen_lower_bound
                        )
                        return (-mp, "", s.term)
                    return (-float("inf"), s.describe(), "")

                subs = sorted(subs, key=key)[: node.set_size]
            return subs[0] if len(subs) == 1 else ast.Or(tuple(subs))
        if isinstance(node, (ast.And, ast.Or, ast.Xor, ast.Max, ast.Synonym)):
            return type(node)(tuple(self._expand(s) for s in node.subs))
        if isinstance(node, (ast.Phrase, ast.Near)):
            subs = tuple(self._expand(s) for s in node.subs)
            if any(isinstance(s, ast.MatchNothing) for s in subs):
                # a positional operator requires every child to match: a
                # wildcard/fuzzy child expanding to zero dictionary terms
                # makes the whole phrase match nothing (the reference
                # returns an empty MSet, queryinternal.cc)
                return ast.MatchNothing()
            return type(node)(subs, node.window)
        if isinstance(node, (ast.AndNot, ast.AndMaybe, ast.Filter)):
            return type(node)(self._expand(node.left), self._expand(node.right))
        if isinstance(node, ast.ScaleWeight):
            return ast.ScaleWeight(node.factor, self._expand(node.sub))
        return node

    @staticmethod
    def _contains(node: ast.Node, cls) -> bool:
        stack = [node]
        while stack:
            nd = stack.pop()
            if isinstance(nd, cls):
                return True
            if isinstance(nd, (ast.And, ast.Or, ast.Xor, ast.Max, ast.Synonym,
                               ast.Phrase, ast.Near)):
                stack.extend(nd.subs)
            elif isinstance(nd, (ast.AndNot, ast.AndMaybe, ast.Filter)):
                stack.extend((nd.left, nd.right))
            elif isinstance(nd, ast.ScaleWeight):
                stack.append(nd.sub)
        return False

    @staticmethod
    def _matches_termless(node: ast.Node) -> bool:
        """Can this (expanded) query match a document that contains NO
        query term?  Decides whether candidates must cover every doc
        (the queryinternal sub_and_like / sub_or_like distinction): a
        ValueRange or posting source ANDed/FILTERed with terms is gated
        by them, but standing alone or under OR it matches term-free
        docs and gating candidates to term-bearing docs drops results."""
        mt = Planner._matches_termless
        if isinstance(node, (ast.MatchAll, ast.ValueRange,
                             ast.ValueWeightSource, ast.ValueMapSource,
                             ast.FixedWeightSource)):
            return True
        if isinstance(node, ast.And):
            return all(mt(s) for s in node.subs)
        if isinstance(node, (ast.Or, ast.Xor, ast.Max, ast.Synonym)):
            return any(mt(s) for s in node.subs)
        if isinstance(node, (ast.AndNot, ast.AndMaybe, ast.Filter)):
            return mt(node.left)
        if isinstance(node, ast.ScaleWeight):
            return mt(node.sub)
        return False  # Term / Phrase / Near / MatchNothing / wildcards

    # -- candidate construction ---------------------------------------------

    # Above this many distinct query terms the per-entry array_contains scan
    # of the doc-major termlist path costs more than the term-major
    # explode+shuffle path; batch serving with big term unions takes the
    # latter.
    _TERMLIST_PATH_MAX_TERMS = 64

    def _candidates_from_termlists(
        self, terms: list[str], need_positions: bool, need_all_docs: bool,
        need_uniq: bool,
    ) -> DataFrame:
        """ZERO-shuffle candidate map: termlists are doc-major (docid,
        plist, doclen), so the per-doc term->wdf map is a pure projection —
        filter the termlist array to the query's terms and map_from_entries
        it.  No explode, no groupBy(docid) exchange.  This is the resident
        -index fast path; the warehouse path keeps term-major postings so
        a 1000-executor scan prunes to the query's terms via parquet
        predicate pushdown instead of reading every termlist."""
        tl = self.index.termlists
        terms_arr = F.array(*[F.lit(t) for t in terms])
        matched = F.filter(
            F.col("plist"),
            lambda e: F.array_contains(terms_arr, e.getField("term")),
        )
        if need_positions:
            entries = lambda e: F.struct(  # noqa: E731
                e.getField("term").alias("term"),
                F.struct(
                    e.getField("wdf").alias("wdf"),
                    e.getField("positions").alias("positions"),
                ).alias("v"),
            )
        else:
            entries = lambda e: F.struct(  # noqa: E731
                e.getField("term").alias("term"),
                F.struct(e.getField("wdf").alias("wdf")).alias("v"),
            )
        if not need_all_docs:
            # cheap row gate on the RAW array (one exists-scan) so the
            # pushed-down filter doesn't rebuild the tmap expression
            tl = tl.where(
                F.exists(
                    F.col("plist"),
                    lambda e: F.array_contains(
                        terms_arr, e.getField("term")
                    ),
                )
            )
        cols = [
            F.col("docid"),
            F.map_from_entries(F.transform(matched, entries)).alias("tmap"),
            F.col("doclen"),
        ]
        if need_uniq:
            cols.append(F.col("uniqterms"))
        return tl.select(*cols)

    def _candidates(
        self, terms: list[str], need_positions: bool, need_all_docs: bool,
        value_fields: list[str],
    ) -> DataFrame:
        idx = self.index
        need_uniq = getattr(self.weight, "needs_uniqterms", False)
        if (
            terms
            and getattr(idx, "termlists", None) is not None
            and len(terms) <= self._TERMLIST_PATH_MAX_TERMS
        ):
            cand = self._candidates_from_termlists(
                terms, need_positions, need_all_docs, need_uniq
            )
            if value_fields:
                cand = cand.join(
                    idx.docs.select("docid", *value_fields), "docid", "left"
                )
            return cand
        p = idx.postings.where(F.col("term").isin(terms)) if terms else None
        if p is not None:
            entry_val = (
                F.struct("wdf", "positions") if need_positions
                else F.struct("wdf")
            )
            cand = p.groupBy("docid").agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("term"), entry_val))
                ).alias("tmap"),
                F.max("doclen").alias("doclen"),
            )
        else:
            cand = None

        if need_all_docs:
            base = idx.doclens.select("docid", "doclen")
            if cand is not None:
                cand = base.join(cand.drop("doclen"), "docid", "left")
            else:
                cand = base.withColumn(
                    "tmap",
                    F.lit(None).cast("map<string,struct<wdf:int>>"),
                )
        if need_uniq and cand is not None:
            # DiceCoeffWeight needs the per-doc unique-term count; it lives
            # in the doclens table (uniqterms column, builder.py).
            cand = cand.join(
                idx.doclens.select("docid", "uniqterms"), "docid", "left"
            )
        if value_fields:
            cand = cand.join(
                idx.docs.select("docid", *value_fields), "docid", "left"
            )
        return cand

    # -- evaluation ----------------------------------------------------------

    def _eval(
        self,
        node: ast.Node,
        factor: float,
        tstats: dict[str, TermStats],
        wqf: dict[str, int],
        syn_stats: dict[int, TermStats],
    ) -> _Ev:
        F0 = F.lit(0.0)
        if isinstance(node, ast.MatchNothing):
            return _Ev(F.lit(False), F0)
        if isinstance(node, ast.MatchAll):
            return _Ev(F.lit(True), F0)

        if isinstance(node, ast.Term):
            entry = F.col("tmap").getItem(node.term)
            match = entry.isNotNull()
            if factor == 0.0:
                return _Ev(match, F0)
            ts = tstats.get(node.term) or _EMPTY_TS(node.term)
            if ts.tf == 0:
                return _Ev(F.lit(False), F0)
            tw = self.weight.init_term(
                self.index.stats, ts, wqf=wqf.get(node.term, 1), factor=factor
            )
            w = F.when(
                match, tw.sumpart_expr(entry.getField("wdf"), F.col("doclen"))
            ).otherwise(0.0)
            return _Ev(match, w)

        if isinstance(node, ast.And):
            evs = [self._eval(s, factor, tstats, wqf, syn_stats) for s in node.subs]
            match = evs[0].match
            weight = evs[0].weight
            for e in evs[1:]:
                match = match & e.match
                weight = weight + e.weight
            return _Ev(match, weight)

        if isinstance(node, ast.Or):
            # weight = sum over MATCHING subqueries (orpostlist.cc): a
            # composite child (phrase/AND) contributes nothing unless it
            # matches, so its weight must be gated on its own match.
            evs = [self._eval(s, factor, tstats, wqf, syn_stats) for s in node.subs]
            match = evs[0].match
            weight = _gated(evs[0])
            for e in evs[1:]:
                match = match | e.match
                weight = weight + _gated(e)
            return _Ev(match, weight)

        if isinstance(node, ast.AndNot):
            le = self._eval(node.left, factor, tstats, wqf, syn_stats)
            re_ = self._eval(node.right, 0.0, tstats, wqf, syn_stats)
            return _Ev(le.match & ~re_.match, le.weight)

        if isinstance(node, ast.AndMaybe):
            # right adds weight only where right itself matches
            # (andmaybepostlist.cc, query.h:107-116)
            le = self._eval(node.left, factor, tstats, wqf, syn_stats)
            re_ = self._eval(node.right, factor, tstats, wqf, syn_stats)
            return _Ev(le.match, le.weight + _gated(re_))

        if isinstance(node, ast.Filter):
            le = self._eval(node.left, factor, tstats, wqf, syn_stats)
            re_ = self._eval(node.right, 0.0, tstats, wqf, syn_stats)
            return _Ev(le.match & re_.match, le.weight)

        if isinstance(node, ast.Xor):
            evs = [self._eval(s, factor, tstats, wqf, syn_stats) for s in node.subs]
            cnt = evs[0].match.cast("int")
            weight = _gated(evs[0])
            for e in evs[1:]:
                cnt = cnt + e.match.cast("int")
                weight = weight + _gated(e)
            return _Ev(cnt % 2 == 1, weight)

        if isinstance(node, ast.Max):
            evs = [self._eval(s, factor, tstats, wqf, syn_stats) for s in node.subs]
            match = evs[0].match
            for e in evs[1:]:
                match = match | e.match
            parts = [F.when(e.match, e.weight) for e in evs]
            weight = F.coalesce(
                F.greatest(*parts) if len(parts) > 1 else parts[0], F.lit(0.0)
            )
            return _Ev(match, weight)

        if isinstance(node, ast.Synonym):
            # Scored as ONE pseudo-term over combined stats (query.h:231-237):
            # wdf = sum of child wdfs clamped to doclen
            # (synonympostlist.h:50-57).  We use the EXACT synonym termfreq
            # (cheap in Spark) where the reference estimates it
            # (queryinternal.cc:384-431) — documented divergence.
            subterms = [t.term for t in ast.leaf_terms(node)]
            entry_wdfs = [
                F.coalesce(
                    F.col("tmap").getItem(t).getField("wdf"), F.lit(0)
                )
                for t in subterms
            ]
            wdf_sum = entry_wdfs[0]
            for e in entry_wdfs[1:]:
                wdf_sum = wdf_sum + e
            wdf_syn = F.least(wdf_sum.cast("long"), F.col("doclen"))
            match = F.col("tmap").getItem(subterms[0]).isNotNull()
            for t in subterms[1:]:
                match = match | F.col("tmap").getItem(t).isNotNull()
            if factor == 0.0:
                return _Ev(match, F0)
            ts = syn_stats[id(node)]
            tw = self.weight.init_term(self.index.stats, ts, wqf=1, factor=factor)
            w = F.when(
                match, tw.sumpart_expr(wdf_syn, F.col("doclen"))
            ).otherwise(0.0)
            return _Ev(match, w)

        if isinstance(node, ast.ScaleWeight):
            return self._eval(node.sub, factor * node.factor, tstats, wqf, syn_stats)

        if isinstance(node, (ast.Phrase, ast.Near)):
            # Each child is one positional ELEMENT.  OR/Synonym children
            # merge their terms' position lists (OrPosPostList,
            # matcher/orpositionlist.cc): ("a" OR "b") PHRASE c matches
            # where either a or b is adjacent to c.
            def _child_terms(ch: ast.Node) -> list[str]:
                if isinstance(ch, ast.Term):
                    return [ch.term]
                if isinstance(ch, (ast.Or, ast.Synonym)) and all(
                    isinstance(x, ast.Term) for x in ch.subs
                ):
                    return [x.term for x in ch.subs]
                raise TypeError(
                    "positional operator over unsupported child: "
                    f"{type(ch).__name__}"
                )

            groups = [_child_terms(c) for c in node.subs]
            evs = [
                self._eval(c, factor, tstats, wqf, syn_stats)
                for c in node.subs
            ]
            # child weights are self-gated (Terms by presence, Or/Synonym
            # by their own match logic), so a plain sum is correct
            match = evs[0].match
            weight = evs[0].weight
            for e in evs[1:]:
                match = match & e.match
                weight = weight + e.weight

            def _plist_of(terms: list[str]) -> Column:
                if len(terms) == 1:
                    return (
                        F.col("tmap").getItem(terms[0]).getField("positions")
                    )
                arrs = [
                    F.coalesce(
                        F.col("tmap").getItem(t).getField("positions"),
                        F.array().cast("array<int>"),
                    )
                    for t in terms
                ]
                merged = arrs[0]
                for a in arrs[1:]:
                    merged = F.array_union(merged, a)
                return F.array_sort(merged)

            plists = [_plist_of(g) for g in groups]
            n = len(groups)
            w = node.window
            ordered = isinstance(node, ast.Phrase)
            # JVM fast paths (whole-stage codegen, no Python): the hot shapes.
            if ordered and w == n and n >= 2:
                # Exact phrase (exactphrasepostlist.cc:87-160): consecutive
                # positions == non-empty intersection of offset-shifted lists.
                def _shift(arr, off):
                    return F.transform(arr, lambda x: x - F.lit(off))

                inter = plists[0]
                for i in range(1, n):
                    inter = F.array_intersect(inter, _shift(plists[i], i))
                pos_ok = F.size(inter) > 0
            elif n == 2:
                p0, p1 = plists
                if ordered:
                    # PHRASE window=w, 2 terms: exists y>x with y-x <= w-1
                    pos_ok = F.exists(
                        p0,
                        lambda x: F.exists(
                            p1, lambda y: (y > x) & (y - x <= F.lit(w - 1))
                        ),
                    )
                else:
                    # NEAR window=w, 2 terms: distinct positions, span <= w-1
                    pos_ok = F.exists(
                        p0,
                        lambda x: F.exists(
                            p1,
                            lambda y: (y != x)
                            & (F.abs(y - x) <= F.lit(w - 1)),
                        ),
                    )
            else:
                # General n-term windowed sweep: Arrow-batched UDF port of
                # phrasepostlist.cc / nearpostlist.cc (positional.py).
                check = _phrase_udf(w, ordered)
                pos_ok = check(F.array(*plists))
            # Positional check applies only to AND survivors (cheap gate
            # first, mirroring SelectPostList::test_doc).
            match = match & pos_ok
            return _Ev(match, weight)

        if isinstance(node, ast.ValueMapSource):
            # ValueMapPostingSource (postingsource.cc:296-395): matches
            # non-null slot values; weight = map[value] else default.
            col = F.col(node.field)
            match = col.isNotNull()
            if factor == 0.0:
                return _Ev(match, F0)
            w = F.lit(float(node.default_weight))
            for key, wt in node.mapping:
                w = F.when(col.cast("string") == F.lit(key), F.lit(float(wt))).otherwise(w)
            return _Ev(match, F.when(match, w * F.lit(factor)).otherwise(0.0))

        if isinstance(node, ast.FixedWeightSource):
            # FixedWeightPostingSource (postingsource.cc:406-458): every
            # doc matches at a constant weight.
            return _Ev(F.lit(True), F.lit(float(node.weight) * factor))

        if isinstance(node, ast.ValueWeightSource):
            col = F.col(node.field)
            match = col.isNotNull()
            if factor == 0.0:
                return _Ev(match, F0)
            w = F.when(
                match, col.cast("double") * F.lit(node.scale * factor)
            ).otherwise(0.0)
            return _Ev(match, w)

        if isinstance(node, ast.ValueRange):
            col = F.col(node.field)
            if node.lo is not None and node.hi is not None:
                m = col.between(F.lit(node.lo), F.lit(node.hi))
            elif node.lo is not None:
                m = col >= F.lit(node.lo)
            else:
                m = col <= F.lit(node.hi)
            return _Ev(F.coalesce(m, F.lit(False)), F0)

        raise TypeError(f"unsupported node: {type(node).__name__}")

    def _gather_syn(
        self,
        nd: ast.Node,
        tstats: dict[str, TermStats],
        syn_stats: dict[int, TermStats],
        weighted: bool = True,
    ) -> None:
        """Exact synonym-group stats (one tiny job per group); the reference
        estimates these by independence (queryinternal.cc:384-431), we pay a
        cheap count for exactness — documented divergence.  Stats are only
        computed for groups _eval will actually score: a Synonym in an
        unweighted context (Filter/AndNot right side) or nested inside
        another Synonym matches via its terms but never reads its group
        stats, so paying a count job there is pure waste."""
        if weighted and isinstance(nd, ast.Synonym):
            sts = [t.term for t in ast.leaf_terms(nd)]
            key = tuple(sorted(set(sts)))
            cache = getattr(self.index, "_syn_cache", None)
            if cache is None:
                cache = {}
                self.index._syn_cache = cache
            ts = cache.get(key)
            if ts is None:
                tf = (
                    self.index.postings.where(F.col("term").isin(sts))
                    .select("docid")
                    .distinct()
                    .count()
                )
                cf = sum((tstats.get(t) or _EMPTY_TS(t)).cf for t in sts)
                wdf_max = min(
                    self.index.stats.doclen_upper_bound or 0,
                    sum((tstats.get(t) or _EMPTY_TS(t)).wdf_max for t in sts),
                )
                ts = TermStats(term="(syn)", tf=tf, cf=cf, wdf_max=wdf_max)
                cache[key] = ts
            syn_stats[id(nd)] = ts
        if isinstance(nd, ast.Synonym):
            # the group matches via its leaf terms directly; nested
            # Synonym children are never scored on their own stats
            for s in nd.subs:
                self._gather_syn(s, tstats, syn_stats, weighted=False)
        elif isinstance(nd, (ast.And, ast.Or, ast.Xor, ast.Max,
                             ast.Phrase, ast.Near)):
            for s in nd.subs:
                self._gather_syn(s, tstats, syn_stats, weighted)
        elif isinstance(nd, (ast.AndNot, ast.Filter)):
            self._gather_syn(nd.left, tstats, syn_stats, weighted)
            # right side is evaluated with factor 0 (match-only)
            self._gather_syn(nd.right, tstats, syn_stats, weighted=False)
        elif isinstance(nd, ast.AndMaybe):
            self._gather_syn(nd.left, tstats, syn_stats, weighted)
            self._gather_syn(nd.right, tstats, syn_stats, weighted)
        elif isinstance(nd, ast.ScaleWeight):
            self._gather_syn(
                nd.sub, tstats, syn_stats, weighted and nd.factor != 0
            )

    # -- public API -----------------------------------------------------------

    def plan(self, query: ast.Node) -> DataFrame:
        """(docid, score) of all matching docs."""
        query = self._expand(query)
        leaves = ast.leaf_terms(query)
        terms = sorted({t.term for t in leaves})
        wqf: dict[str, int] = {}
        for t in leaves:
            wqf[t.term] = wqf.get(t.term, 0) + t.wqf

        tstats = self.index.collect_term_stats(terms)

        # query_length = sum of wqf (enquire.cc:279-281); DiceCoeffWeight
        # folds it into its per-term constants.
        if hasattr(self.weight, "set_query_length"):
            self.weight.set_query_length(sum(wqf.values()))

        # Exact synonym stats (one tiny job per synonym group).
        syn_stats: dict[int, TermStats] = {}
        self._gather_syn(query, tstats, syn_stats)

        need_pos = self._contains(query, (ast.Phrase, ast.Near))
        need_all = self._matches_termless(query)
        vr_fields = sorted(
            {
                nd.field
                for nd in _walk(query)
                if isinstance(
                    nd,
                    (ast.ValueRange, ast.ValueWeightSource, ast.ValueMapSource),
                )
            }
        )
        cand = self._candidates(terms, need_pos, need_all, vr_fields)
        if cand is None:
            # no term leaves and no MatchAll: empty result
            return self.index.spark.createDataFrame(
                [], "docid long, score double"
            )
        ev = self._eval(query, 1.0, tstats, wqf, syn_stats)
        # doc-only sumextra added once per matching doc (weight.h:245-275;
        # e.g. the BM25 k2 part) — zero literal unless the scheme uses it
        extra = self.weight.sumextra_expr(
            F.col("doclen"), sum(wqf.values()), self.index.stats
        )
        return (
            cand.withColumn("score", ev.weight + extra)
            .where(ev.match)
            .select("docid", "score")
        )

    def plan_batch(self, queries: dict[str, ast.Node]) -> DataFrame:
        """Evaluate MANY queries in one pass: (query, docid, score).

        One scan of the postings table filtered to the union of all query
        terms, one per-doc term map, then every query's boolean+score
        expression evaluated as columns over that map.  This amortizes the
        per-job scheduling floor across the batch — the Spark-native way to
        get QPS (the reference answers one query per Enquire; a 1000-executor
        cluster answers a batch per job)."""
        prepared: dict[str, tuple[ast.Node, dict, dict, dict]] = {}
        all_terms: set[str] = set()
        need_pos = need_all = False
        vr_fields: set[str] = set()
        for name, q in queries.items():
            q = self._expand(q)
            leaves = ast.leaf_terms(q)
            wqf: dict[str, int] = {}
            for t in leaves:
                wqf[t.term] = wqf.get(t.term, 0) + t.wqf
            all_terms.update(wqf)
            need_pos = need_pos or self._contains(q, (ast.Phrase, ast.Near))
            need_all = need_all or self._matches_termless(q)
            vr_fields.update(
                nd.field for nd in _walk(q)
                if isinstance(
                    nd,
                    (ast.ValueRange, ast.ValueWeightSource, ast.ValueMapSource),
                )
            )
            prepared[name] = (q, wqf)

        terms = sorted(all_terms)
        tstats = self.index.collect_term_stats(terms)
        cand = self._candidates(terms, need_pos, need_all, sorted(vr_fields))
        if cand is None:
            return self.index.spark.createDataFrame(
                [], "query string, docid long, score double"
            )

        entries = []
        for name, (q, wqf) in prepared.items():
            syn_stats: dict[int, TermStats] = {}
            self._gather_syn(q, tstats, syn_stats)
            # per-query query_length (DiceCoeffWeight bakes it into the
            # per-term constants during _eval's init_term calls)
            if hasattr(self.weight, "set_query_length"):
                self.weight.set_query_length(sum(wqf.values()))
            ev = self._eval(q, 1.0, tstats, wqf, syn_stats)
            extra = self.weight.sumextra_expr(
                F.col("doclen"), sum(wqf.values()), self.index.stats
            )
            entries.append(
                F.struct(
                    F.lit(name).alias("query"),
                    ev.match.alias("m"),
                    (ev.weight + extra).alias("score"),
                )
            )
        return (
            cand.select("docid", F.explode(F.array(*entries)).alias("r"))
            .where(F.col("r.m"))
            .select(F.col("r.query").alias("query"), "docid", F.col("r.score").alias("score"))
        )

    def search_batch(
        self, queries: dict[str, ast.Node], k: int = 10
    ) -> DataFrame:
        """Batched top-k: (query, rank, docid, score), rank 1..k per query."""
        from pyspark.sql import Window

        m = self.plan_batch(queries)
        w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("docid"))
        return (
            m.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query", "rank", "docid", "score")
        )

    def search_batch_or(
        self, queries: dict[str, list[str]], k: int = 10,
        use_wand: bool | str = False,
    ) -> DataFrame:
        """High-throughput batched free-text search (default-op OR, BM25).

        The scale path for query serving: a tiny (query, term, termweight)
        table broadcast-joined to the postings table, partial-aggregated
        per (query, docid), then per-query top-k.  No per-query plan or
        codegen — one fixed plan serves ANY number of weighted-OR queries,
        and postings-side work is proportional to the matched postings
        (like the reference's per-term posting cursors), not to
        |queries| x |candidates|.

        Returns (query, rank, docid, score) with rank 1..k per query.

        use_wand=True serves the batch by set-at-a-time MaxScore + block-max
        pruning over blocked postings (wand.batch_wand_topk): per-query
        thresholds split terms into essential (candidate-generating) and
        non-essential (looked up for candidate docs only), so aggregate
        input is proportional to candidates x query terms instead of
        postings x queries.  Measured on a 20,000-doc warehouse on 4 cores
        (warehouse_bench), it is the slower path on both batch classes:
        selective 250-query batches run at about 113 QPS via WAND against
        about 234 via rows, hot 100-query batches at about 42 against 81.

        use_wand="auto" picks the path by MEASUREMENT, whole batches at a
        time (explore-then-commit, _batch_or_auto): the first batch after
        (re)start is served entirely by one path, the next entirely by the
        other, both timed at full size and both returning real results;
        later batches ride the path with the lower per-query time until
        AUTO_REPROBE_EVERY batches pass, when the two-batch exploration
        repeats with the order flipped.  Measured, not modeled, because
        which path wins depends on the workload shape (selectivity) AND on
        the host (Python block decode vs JVM join throughput) — a
        driver-side cost model sees only the first effect.
        """
        from xapian_spark.ranking.weights import BM25Weight, TradWeight

        # Both batch paths bake ONE shared sumpart shape
        # (tw*wdf/(k1*(normlen*b+1-b)+wdf)) with per-term tw — exact for
        # the BM25/Trad family only; other schemes would silently get the
        # wrong formula, so reject them loudly (use search_batch instead).
        if not isinstance(self.weight, (BM25Weight, TradWeight)):
            raise ValueError(
                "search_batch_or supports BM25-shaped weights "
                f"(got {type(self.weight).__name__}); use search_batch"
            )

        all_terms = sorted({t for ts in queries.values() for t in ts})
        tstats = self.index.collect_term_stats(all_terms)

        wand_ok = (
            self.index.blocked is not None
            and not getattr(self.weight, "needs_uniqterms", False)
            and self.weight.maxextra(self.index.stats, 1) == 0
        )
        if use_wand == "auto":
            if not wand_ok:
                return self._batch_or_rows(queries, k, tstats)
            return self._batch_or_auto(queries, k, tstats)
        if use_wand and wand_ok:
            return self._batch_wand(queries, k, tstats)
        return self._batch_or_rows(queries, k, tstats)

    def _batch_wand(
        self, queries: dict[str, list[str]], k: int,
        tstats: dict[str, "TermStats"],
    ) -> DataFrame:
        from xapian_spark.query.wand import batch_wand_topk

        return batch_wand_topk(
            self.index.blocked, self.index.stats, tstats, queries, k,
            self.weight, postings=self.index.postings,
            doclens=self.index.doclens,
        )

    def _batch_or_rows(
        self, queries: dict[str, list[str]], k: int,
        tstats: dict[str, "TermStats"],
    ) -> DataFrame:
        """The row-postings batch path (no pruning): postings x broadcast
        query table -> partial agg -> per-query top-k."""
        from collections import Counter

        from pyspark.sql import Window

        rows = []
        for qname, terms in queries.items():
            for t, n in Counter(terms).items():
                ts = tstats.get(t)
                if ts is None or ts.tf == 0:
                    continue
                tw = self.weight.init_term(self.index.stats, ts, wqf=n)
                rows.append((qname, t, float(tw.termweight)))
        spark = self.index.spark
        if not rows:
            return spark.createDataFrame(
                [], "query string, rank int, docid long, score double"
            )
        qt = spark.createDataFrame(rows, "query string, term string, tw double")
        # per-(query,term,doc) sumpart with the shared BM25 shape; per-term
        # constants come from the broadcast side.
        any_tw = self.weight.init_term(
            self.index.stats, next(iter(tstats.values())), wqf=1
        )
        normlen = F.greatest(
            F.col("doclen").cast("double") * F.lit(any_tw.len_factor),
            F.lit(any_tw.min_normlen),
        )
        denom = (
            F.lit(any_tw.k1)
            * (normlen * F.lit(any_tw.b) + F.lit(1.0 - any_tw.b))
            + F.col("wdf").cast("double")
        )
        sumpart = F.col("tw") * (F.col("wdf").cast("double") / denom)
        scored = (
            self.index.postings.join(F.broadcast(qt), "term")
            .groupBy("query", "docid")
            .agg(F.sum(sumpart).alias("score"))
        )
        w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("docid"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query", "rank", "docid", "score")
        )

    # cached decisions expire after this many routed batches, so a
    # long-lived server re-explores as the host window drifts
    AUTO_REPROBE_EVERY = 64

    def _batch_or_auto(
        self, queries: dict[str, list[str]], k: int,
        tstats: dict[str, "TermStats"],
    ) -> DataFrame:
        """Measured WAND/row path selection (see search_batch_or):
        explore-then-commit ACROSS batches.  The first batch after (re)
        start serves entirely via WAND, the second entirely via the
        row-postings path — both timed at full scale, both returning real
        results — and every subsequent batch rides the measured winner's
        per-query rate until AUTO_REPROBE_EVERY batches pass, when the
        two-batch exploration repeats.

        Why whole batches and not a within-batch probe: both paths carry
        multi-second FIXED job costs and WAND's cost is CONCAVE in batch
        size (queries share anchor terms, so per-term work saturates), so
        sub-batch slices of any size measure mostly fixed cost and cannot
        identify the winner (measured: 250-query halves of a 500-query
        batch cost ~5 s via EITHER path, while the full batch cost 5.0 s
        via WAND and 8.2 s via row — the divergence only exists at full
        scale).  Cross-batch full-scale measurement is the identifying
        experiment, and its cost vs an oracle that knew the winner is one
        full batch on the losing path per reprobe interval — steady-state
        throughput is exactly the winner's.

        Two comparability guards on the commit: (a) the two exploration
        batches' sizes must be within 4x of each other (and the second
        large enough to amortize fixed cost against the first) — per-query
        rates from a 500-query batch and a 3-query batch are not
        comparable, so a mismatched pair restarts the exploration instead
        of committing a garbage decision; (b) the exploration ORDER flips
        every reprobe cycle, so one-time session warm-up (JVM C2, Arrow
        workers) is not systematically charged to the same path."""
        import time

        dec = getattr(self, "_auto_decision", None)
        if dec is not None and dec.get("path") is not None:
            if dec["age"] < self.AUTO_REPROBE_EVERY:
                dec["age"] += 1
                if dec["path"] == "wand":
                    return self._batch_wand(queries, k, tstats)
                return self._batch_or_rows(queries, k, tstats)
            # expired: re-explore, first path alternated vs last cycle
            dec = {"path": None, "first": "row" if dec.get("first", "wand") == "wand" else "wand"}
            dec["_restart"] = True

        n = max(len(queries), 1)
        if dec is None or dec.get("_restart") or "sec_per_q" not in dec:
            # exploration phase 1: this whole batch via the cycle's first
            # path
            first = (dec or {}).get("first", "wand")
            t0 = time.perf_counter()
            if first == "wand":
                out = self._batch_wand(queries, k, tstats)  # eager
            else:
                out = self._batch_or_rows(queries, k, tstats).localCheckpoint(
                    eager=True
                )
            self._auto_decision = {
                "path": None, "age": 0, "first": first, "n": n,
                "sec_per_q": (time.perf_counter() - t0) / n,
            }
            return out
        # exploration phase 2: this whole batch via the OTHER path
        second = "row" if dec["first"] == "wand" else "wand"
        t0 = time.perf_counter()
        if second == "wand":
            out = self._batch_wand(queries, k, tstats)
        else:
            out = self._batch_or_rows(queries, k, tstats).localCheckpoint(
                eager=True
            )
        second_rate = (time.perf_counter() - t0) / n
        n1 = dec["n"]
        if max(n1, n) > 4 * min(n1, n):
            # incomparable batch sizes: per-query rates don't transfer
            # (fixed cost dominates the smaller batch) — restart the
            # exploration with this batch as the new phase-1 sample
            self._auto_decision = {
                "path": None, "age": 0, "first": second, "n": n,
                "sec_per_q": second_rate,
            }
            return out
        rates = {dec["first"]: dec["sec_per_q"], second: second_rate}
        self._auto_decision = {
            "path": "wand" if rates["wand"] <= rates["row"] else "row",
            "age": 0, "first": dec["first"],
            "wand_sec_per_q": round(rates["wand"], 6),
            "row_sec_per_q": round(rates["row"], 6),
        }
        return out

    def search(self, query: ast.Node, k: int = 10, offset: int = 0) -> DataFrame:
        """Top-k MSet: (rank, docid, score); rank 1-based after offset.

        Every shape, weighted-OR included, is served by the row-postings
        plan (plan()): the term-stats collect, one groupBy(docid) stage and
        the caller's collect — 3 Spark jobs, 2 once the terms' stats are
        cached.  Block-max pruning serves batches only (search_batch_or,
        use_wand=True): for one query it cannot cut the parquet scan,
        since a term's postings sit in one row group, and its extra
        threshold, gate and checkpoint jobs cost more than the aggregate
        rows it drops (3-term OR at 20,000 docs, local[4]: 11 jobs and a
        0.81 s median vs 3 jobs and 0.21 s)."""
        matches = self.plan(query)
        if (
            isinstance(query, ast.DecreasingValueWeightSource)
            and (query.range_start or query.range_end)
        ):
            # Early-termination licence (decvalwtsource.cc:94-100): within
            # the promised range, weight is non-increasing by docid, so only
            # the first offset+k in-range docids can reach the top-k.
            lo, hi = query.range_start, query.range_end
            in_range = F.col("docid") >= F.lit(lo)
            if hi:
                in_range = in_range & (F.col("docid") <= F.lit(hi))
            pruned_in = (
                matches.where(in_range)
                .orderBy(F.asc("docid"))
                .limit(offset + k)
            )
            matches = matches.where(~in_range).unionByName(pruned_in)
        top = matches.orderBy(F.desc("score"), F.asc("docid")).limit(offset + k)
        # The limit()ed set is tiny: a driver-side window is fine.
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("score"), F.asc("docid"))
        ranked = top.withColumn("rank", F.row_number().over(w))
        if offset:
            ranked = ranked.where(F.col("rank") > offset)
        return ranked.select("rank", "docid", "score")


def _walk(node: ast.Node):
    stack = [node]
    while stack:
        nd = stack.pop()
        yield nd
        if isinstance(nd, (ast.And, ast.Or, ast.Xor, ast.Max, ast.Synonym,
                           ast.Phrase, ast.Near)):
            stack.extend(nd.subs)
        elif isinstance(nd, (ast.AndNot, ast.AndMaybe, ast.Filter)):
            stack.extend((nd.left, nd.right))
        elif isinstance(nd, ast.ScaleWeight):
            stack.append(nd.sub)
