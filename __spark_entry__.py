"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator from SURVEY.md §2;
`oracle_sql()` gives the DuckDB-runnable ANSI-SQL twin.  The oracle SQL
computes the SAME math (BM25 per xapian-core/weight/bm25weight.cc:46-208,
defaults k1=1 k2=0 k3=1 b=0.5 min_normlen=0.5) from scratch over the raw
`documents` table, so the check validates tokenize -> invert -> stats ->
score -> top-k end-to-end, not just plumbing.

Float discipline: every score column is round(x, 6) BEFORE the top-k
ordering on both sides, with docid as the deterministic tiebreak, so
last-ulp libm differences between engines cannot change the result set.

Corpus note: documents.text is strictly [a-z ]+, so the engine's Xapian
tokenizer (termgenerator_internal.cc semantics) and the oracle's
regexp_extract_all(lower(text), '[a-z0-9_]+') produce identical term/pos
streams; tokenizer-fidelity edge cases (acronyms, infix, +/# suffixes) are
covered by the pytest golden suite instead (tests/test_tokenizer.py).

Oracle coverage: all 50 window entries carry a value-hash oracle.  The
"approximate" dedup/ANN operators (minhash_lsh, simhash_pairs,
lsh_cosine_topk, embedding_near_dup) are approximate only w.r.t. the
exact answer — their pipelines are fully deterministic (md5/sha256
hashing, seeded hyperplanes), so the oracle SQL replays the algorithm
itself, candidate generation included.  stemmed_search uses a
dictionary-replay oracle: Porter2 the algorithm is not SQL-expressible,
but the query only needs the closure of its two stems over the corpus
vocabulary, embedded as static IN lists and pinned complete by
tests/test_stemmer.py::test_stemmed_search_oracle_closure (the stemmer
itself is byte-parity-pinned on the full public Snowball vocabulary).

Entry-count policy: the driver checks the FIRST 50 queries() entries, so
every training-data-pipeline / ANN operator sits inside that window;
positions 51+ are oracle-checked by tools/check_entry.py on every local
run even though the driver stops at 50.  Positions 59+ restore the set
rotated out of the window in round 3 (weight schemes, count_all,
sort_by_value, value_weight_source, French stemmed search), add
first-time value-hash oracles for IneB2/BB2/PL2+/DLH (previously only
pinned to the api_weight.cc doubles in tests/test_reference_golden.py),
upgrade stemmed_search_fr from rows-only to a dictionary-replay oracle,
put the LCD clusterer under the gate (cluster_lcd: k=3 over a 12-doc
MSet makes the greedy construction exactly three rounds, replayed as
chained CTEs), put the LSM delete/replace overlay's serving semantics
under it (overlay_search: tombstones + delta + the documented
stale-composite tf, replayed exactly), put multi-database search under
it (multidb_search: the reference's interleaved docid remap over two
independently-built shards with exactly-combined stats), and put the
multi-source Compactor under it (compact_search: two shard warehouses
compacted with contiguous renumbering must serve byte-identically to a
direct build — the plain prelude is the oracle).  Positions 93-94 are
round-5 additions: multiword_synonym_search (FLAG_AUTO_MULTIWORD_SYNONYMS
parser walk feeding the OP_SYNONYM pseudo-term scorer) and
pipeline_compose (dedup_exact -> decontaminate -> quality_filter ->
stratified_sample -> mix_report chained as DataFrame stages, the oracle
replaying the chain as one CTE pipeline).  Every
entry carries a value-hash oracle; the only implemented operator
intentionally absent is diversify_rerank (iterative GLS with unbounded
hill-climb rounds — no faithful SQL replay exists; pytest-covered in
tests/test_diversify.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xapian_spark.index.builder import InvertedIndex, build_index, persist_index
from xapian_spark.ops import dedup, similarity, textstats
from xapian_spark.query import ast
from xapian_spark.query.planner import Planner
from xapian_spark.ranking.weights import (
    BB2Weight,
    BM25PlusWeight,
    BoolWeight,
    CoordWeight,
    DiceCoeffWeight,
    DLHWeight,
    DPHWeight,
    IfB2Weight,
    IneB2Weight,
    InL2Weight,
    LMWeight,
    PL2PlusWeight,
    PL2Weight,
    TfIdfWeight,
    TradWeight,
)

# --------------------------------------------------------------------------
# shared index (built once per sf_dir, persisted)
# --------------------------------------------------------------------------

_IDX_CACHE: dict[str, InvertedIndex] = {}

PREFIX_FIELDS = {"source": "S", "lang": "L"}  # boolean field terms


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
        # deterministic value that DECREASES with docid: exercises the
        # DecreasingValueWeightPostingSource early-termination contract
        .withColumn(
            "decreasing_val", (F.lit(1000000.0) - F.col("docid")).cast("double")
        )
        # deterministic YYYYMMDD date value slot (omega date-value
        # convention) spanning 4 years — exercises DateRangeProcessor
        .withColumn(
            "date_val",
            F.date_format(
                F.date_add(
                    F.to_date(F.lit("2020-01-01")),
                    (F.col("doc_id") % 1461).cast("int"),
                ),
                "yyyyMMdd",
            ),
        )
    )


def _index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    idx = _IDX_CACHE.get(sf_dir)
    if idx is None:
        idx = build_index(
            spark,
            _docs(spark, sf_dir),
            content_col="text",
            docid_col="docid",
            prefix_fields=PREFIX_FIELDS,
        )
        persist_index(idx)
        # blocked postings (honey-style wdf_max blocks) so
        # batch_wand_serving genuinely routes through block-max WAND
        # instead of silently falling back to row postings
        from xapian_spark.index.blocks import pack_blocks

        idx.blocked = pack_blocks(idx.postings).persist()
        _IDX_CACHE[sf_dir] = idx
    return idx


def _read(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return run


# --------------------------------------------------------------------------
# query wrappers
# --------------------------------------------------------------------------


def _search(node: ast.Node, k: int = 10, weight=None):
    """Top-k (docid, score) with scores rounded before ordering."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _index(spark, sf_dir)
        m = Planner(idx, weight() if weight is not None else None).plan(node)
        return (
            m.select("docid", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(k)
        )

    return run


def _q_matches_estimated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSet::get_matches_estimated (matcher.cc:434-475): exact total match
    count for a boolean query, independent of the requested page size."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Or((ast.Term("dup"), ast.Term("vector"))))
    return m.agg(F.count(F.lit(1)).cast("long").alias("matches"))


def _q_allterms_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Database::allterms_begin paging: dictionary slice by prefix with
    term frequencies (glass termlist B-tree cursor analogue)."""
    idx = _index(spark, sf_dir)
    return (
        idx.term_stats.where(F.col("term").startswith("s"))
        .select("term", "tf")
        .orderBy("term")
        .limit(50)
    )


def _q_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse (Collapser, collapser.h:135-260): best hit per source key."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Or((ast.Term("dup"), ast.Term("key"))))
    m = m.select("docid", F.round("score", 6).alias("score")).join(
        idx.docs.select("docid", "source"), "docid"
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("docid"))
    return (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "docid", "score")
    )


def _q_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facets (ValueCountMatchSpy, matchspy.h:205): value counts over the
    match set."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Term("batch"))
    return (
        m.join(idx.docs.select("docid", "lang"), "docid")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _round_cols(df: DataFrame, cols: list[str], nd: int = 6) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), nd))
    return df


# pipeline ops ---------------------------------------------------------------


def _q_match_decider(spark, sf_dir):
    """MatchDecider (deciderpostlist.cc): row predicate over doc values."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Term("batch"))
    m = m.join(idx.docs.select("docid", "n_chars"), "docid").where(
        "n_chars > 250"
    )
    return (
        m.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )


def _q_geo_nearest(spark, sf_dir):
    """LatLong nearest-k (latlong_distance_keymaker.cc analogue) over
    deterministic synthetic coordinates derived from doc_id."""
    from xapian_spark.ops import geo

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1).cast("long").alias("docid"),
        ((F.col("doc_id") % 180) - 90 + 0.5).cast("double").alias("lat"),
        (((F.col("doc_id") * 7) % 360) - 180 + 0.5).cast("double").alias("lon"),
    )
    out = geo.nearest(d, 10.0, 20.0, k=10)
    return out.select("docid", F.round("distance_m", 4).alias("distance_m"))


def _q_unit_range(spark, sf_dir):
    """UnitRangeProcessor (queryparser.h:409-442, valuerangeproc.cc:331-434):
    `size:0.1K..0.3K` -> byte-unit multipliers (1024^i) -> OP_FILTER value
    range over the n_chars slot (a unitless begin inherits the end bound's
    factor, the end bound's unit is mandatory)."""
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.query.rangeproc import UnitRangeProcessor

    qp = QueryParser()
    qp.add_rangeprocessor(UnitRangeProcessor("n_chars", marker="size:"))
    node = qp.parse_query("join size:0.1K..0.3K")
    return _search(node, k=10)(spark, sf_dir)


def _q_date_range(spark, sf_dir):
    """DateRangeProcessor (valuerangeproc.cc:173-245): `date:D/M/Y..D/M/Y`
    normalized to YYYYMMDD bounds and attached as an OP_FILTER value range
    over the date_val slot."""
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.query.rangeproc import DateRangeProcessor

    qp = QueryParser()
    qp.add_rangeprocessor(DateRangeProcessor("date_val", marker="date:"))
    node = qp.parse_query("join date:01/02/2020..31/10/2020")
    return _search(node, k=10)(spark, sf_dir)


def _q_sort_multi_key(spark, sf_dir):
    """MultiValueKeyMaker composite sort (api/keymaker.cc:36-70): matches
    of a term ordered by (source asc, n_chars desc), docid tie-break."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Term("merge"))
    return (
        m.join(idx.docs.select("docid", "source", "n_chars"), "docid")
        .orderBy(F.asc("source"), F.desc("n_chars"), F.asc("docid"))
        .limit(10)
        .select("docid", "source", "n_chars")
    )


# 26 consecutive CJK ideographs standing in for a-z: a deterministic CJK
# corpus derived from documents.text, so FLAG_NGRAMS indexing + querying
# can be oracle-checked end to end (word-breaker.cc semantics)
_CJK26 = "".join(chr(0x4E00 + i) for i in range(26))
_CJK_IDX_CACHE: dict[str, InvertedIndex] = {}


def _cjk_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    idx = _CJK_IDX_CACHE.get(sf_dir)
    if idx is None:
        docs = _docs(spark, sf_dir).withColumn(
            "cjk_text",
            F.translate(
                F.lower(F.col("text")), "abcdefghijklmnopqrstuvwxyz", _CJK26
            ),
        )
        idx = build_index(
            spark, docs, content_col="cjk_text", docid_col="docid"
        )
        persist_index(idx)
        _CJK_IDX_CACHE[sf_dir] = idx
    return idx


# FLAG_WORD_BREAKS corpus: a-m -> Katakana (UAX#29 joins runs, WB13),
# n-z -> Thai consonants (each its own WB999 segment, dictionary-less
# default rules).  Segmentation of a translated word is therefore exactly
# "split the ORIGINAL word around every n-z letter" — SQL-replayable.
_KATA13 = "".join(chr(0x30A2 + i) for i in range(13))
_THAI13 = "".join(chr(0x0E01 + i) for i in range(13))
_WB26 = _KATA13 + _THAI13
_WB_IDX_CACHE: dict[str, InvertedIndex] = {}


def _wb_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    idx = _WB_IDX_CACHE.get(sf_dir)
    if idx is None:
        docs = _docs(spark, sf_dir).withColumn(
            "wb_text",
            F.translate(
                F.lower(F.col("text")), "abcdefghijklmnopqrstuvwxyz", _WB26
            ),
        )
        idx = build_index(
            spark, docs, content_col="wb_text", docid_col="docid",
            word_breaks=True,
        )
        persist_index(idx)
        _WB_IDX_CACHE[sf_dir] = idx
    return idx


def _q_word_breaks(spark, sf_dir):
    """FLAG_WORD_BREAKS end-to-end (queryparser.h:637; break_words,
    termgenerator_internal.cc:136-172; lemony:574-586): the mixed
    Katakana/Thai corpus indexes each UAX#29 word segment as one
    positional token (Katakana runs join, Thai chars split), and the
    query run parses to an AND of its segments at one position —
    distinct from both FLAG_NGRAMS (unigrams+bigrams) and plain parsing
    (whole run as one term), so the value-hash pins the word-break path.
    """
    from xapian_spark.query.parser import QueryParser

    idx = _wb_index(spark, sf_dir)
    wb_query = "dup".translate(
        str.maketrans("abcdefghijklmnopqrstuvwxyz", _WB26)
    )
    node = QueryParser(word_breaks=True).parse_query(wb_query)
    m = Planner(idx).plan(node)
    return (
        m.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )


def _q_cjk_ngram(spark, sf_dir):
    """CJK n-gram search (FLAG_NGRAMS, word-breaker.cc): the query run
    for 'dup' in the derived CJK corpus parses to the reference's
    AND-of-grams form (七 AND 七且 AND 且 AND 且丏 AND 丏), scored BM25
    over the ngram-indexed postings."""
    from xapian_spark.query.parser import QueryParser

    idx = _cjk_index(spark, sf_dir)
    cjk_query = "dup".translate(str.maketrans(
        "abcdefghijklmnopqrstuvwxyz", _CJK26))
    node = QueryParser().parse_query(cjk_query)
    m = Planner(idx).plan(node)
    return (
        m.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )


def _q_parser_mixed(spark, sf_dir):
    """String query through the QueryParser: phrase OR term."""
    from xapian_spark.query.parser import QueryParser

    node = QueryParser().parse_query('"slow fast" OR dup')
    return _search(node, k=10)(spark, sf_dir)


def _q_elite_set(spark, sf_dir):
    node = ast.EliteSet(
        tuple(ast.Term(t) for t in ["dup", "key", "line", "scan", "batch"]),
        set_size=2,
    )
    return _search(node, k=10)(spark, sf_dir)


def _q_fuzzy(spark, sf_dir):
    # 'scen' ~1 -> 'scan' in this vocabulary
    return _search(ast.EditDistance("scen", 1, combiner="or"), k=10)(
        spark, sf_dir
    )


def _q_spelling(spark, sf_dir):
    from xapian_spark.query.expand import suggest_spelling

    idx = _index(spark, sf_dir)
    sug = suggest_spelling(idx, "batcg", max_edit=2)
    return spark.createDataFrame(
        [("batcg", sug)], "word string, suggestion string"
    )


def _q_decreasing_value(spark, sf_dir):
    """DecreasingValueWeightPostingSource (decvalwtsource.cc): the planner
    prunes the in-range scan to the first k docids under the caller's
    non-increasing-by-docid promise; results identical to the unpruned
    value source."""
    idx = _index(spark, sf_dir)
    q = ast.DecreasingValueWeightSource(
        "decreasing_val", scale=0.001, range_start=1, range_end=0
    )
    return (
        Planner(idx)
        .search(q, k=10)
        .select("docid", F.round("score", 6).alias("score"))
    )


_STEM_IDX_CACHE: dict[str, object] = {}


def _q_stemmed_search(spark, sf_dir):
    """STEM_SOME index + stemmed query (Z-terms): morphological variants
    unify under one posting list (termgenerator_internal.cc:318-362).
    Value-hash checked via a dictionary-replay oracle (the Porter2 closure
    of the two query stems over the corpus vocabulary, pinned complete in
    tests/test_stemmer.py)."""
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.text.stem import Stemmer

    idx = _STEM_IDX_CACHE.get(sf_dir)
    if idx is None:
        idx = build_index(
            spark,
            _docs(spark, sf_dir),
            content_col="text",
            docid_col="docid",
            stemmer=Stemmer("en"),
            stem_strategy="some",
        )
        persist_index(idx)
        _STEM_IDX_CACHE[sf_dir] = idx
    qp = QueryParser(stemmer=Stemmer("en"))
    q = qp.parse_query("merges scanning")
    m = Planner(idx).plan(q)
    return (
        m.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )


def _q_count_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchAll over the whole database (Query::MatchAll,
    queryinternal.cc QueryTerm with empty term): exact doccount."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.MatchAll())
    return m.agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def _q_sort_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-value (KeyMaker analogue, enquire.h:170-270): matches of a
    term ordered by a doc value column instead of relevance."""
    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Term("merge"))
    return (
        m.join(idx.docs.select("docid", "n_chars"), "docid")
        .orderBy(F.desc("n_chars"), F.asc("docid"))
        .limit(10)
        .select("docid", "n_chars")
    )


def _q_value_weight(spark, sf_dir):
    """ExternalPostList / ValueWeightPostingSource analogue."""
    return _search(ast.ValueWeightSource("n_chars", 0.01), k=10)(
        spark, sf_dir
    )


_STEM_FR_IDX_CACHE: dict[str, InvertedIndex] = {}


def _q_stemmed_search_fr(spark, sf_dir):
    """French Snowball stemming end-to-end (Stem('french'); algorithm
    validated byte-exact against the full public Snowball vocabulary in
    tests/test_stem_multilang.py).  STEM_SOME French index + French
    stemmed query.  Value-hash checked via the same dictionary-replay
    pattern as stemmed_search: the French closure of the two query stems
    over the corpus vocabulary (merg<-{merge}, tabl<-{table}) is embedded
    in the oracle and pinned complete by
    tests/test_stemmer.py::test_stemmed_search_fr_oracle_closure."""
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.text.stem import Stemmer

    idx = _STEM_FR_IDX_CACHE.get(sf_dir)
    if idx is None:
        idx = build_index(
            spark,
            _docs(spark, sf_dir),
            content_col="text",
            docid_col="docid",
            stemmer=Stemmer("french"),
            stem_strategy="some",
        )
        persist_index(idx)
        _STEM_FR_IDX_CACHE[sf_dir] = idx
    qp = QueryParser(stemmer=Stemmer("french"))
    # French-stemmed query forms: merges->merg, tables->tabl, both of
    # which are corpus stems (merge->merg, table->tabl under fr).
    q = qp.parse_query("merges tables")
    m = Planner(idx).plan(q)
    return (
        m.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )


def _q_bo1_eset(spark, sf_dir):
    from xapian_spark.query.expand import bo1_eset

    idx = _index(spark, sf_dir)
    out = bo1_eset(idx, list(range(1, 11)), k=10)
    return out.select("term", F.round("wt", 6).alias("wt"))


def _q_chunk_documents(spark, sf_dir):
    """Training-data chunking (ops/chunking.py — Spark-era pipeline
    surface, no reference analogue): fixed-token windows with overlap,
    chunk_tokens=16 / overlap=4 / stride=12.  Pure Catalyst (tokenize ->
    per-row sequence -> posexplode + slice), no shuffle, no Python; the
    oracle replays starts via generate_series and chunk text via an
    ordered string_agg over the position range."""
    from xapian_spark.ops.chunking import chunk_documents

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
    )
    return chunk_documents(
        docs, content_col="text", id_col="docid",
        chunk_tokens=16, overlap=4,
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic stratified hash sampling (ops/sampling.py — the
    data-mix construction step; Spark-era pipeline surface).  Keeps a
    per-language fraction by md5-bucket of docid, reproducible across
    runs/partitionings; the oracle replays the identical
    ('0x'||substring(md5,1,7))::bigint bucket and thresholds."""
    from xapian_spark.ops.sampling import stratified_sample

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
        .select("docid", "lang")
    )
    out = stratified_sample(
        docs, {"en": 0.5, "fr": 0.25, "zh": 0.1},
        stratum_col="lang", default_rate=0.05, key_col="docid", seed=42,
    )
    return out.select("docid", "lang")


def _pii_augmented_docs(spark, sf_dir):
    """documents with deterministic synthetic PII appended (the sf corpus
    is clean lowercase tokens, so the scrub would be vacuous on it raw):
    emails / IPv4 / phones / credential-shaped tokens derived from doc_id
    by fixed arithmetic, replayed verbatim by the oracle."""
    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        (d + 1).cast("long").alias("docid"),
        F.concat(
            F.col("text"),
            F.when(
                d % 5 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" server 10."), (d % 256).cast("string"),
                         F.lit(".0.1 up")),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(F.lit(" call +1415555"),
                         (F.lit(1000) + d % 9000).cast("string"),
                         F.lit(" or 415-555-0199")),
            ).otherwise(F.lit("")),
            F.when(
                d % 13 == 0,
                F.concat(F.lit(" token sk-"),
                         F.substring(F.md5(d.cast("string")), 1, 20)),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _q_pii_report(spark, sf_dir):
    """PII scrub (ops/pii.py — Spark-era pipeline surface, no reference
    analogue): per-doc match counts + class-tag redacted text in one
    Catalyst pass (regexp only, Java-regex∩RE2 subset, zero shuffle).
    The oracle replays the augmentation and the ordered redaction with
    RE2 regexp_replace(..., 'g')."""
    from xapian_spark.ops.pii import pii_report

    out = pii_report(_pii_augmented_docs(spark, sf_dir), "docid", "text")
    return out.select(
        F.col("id").alias("docid"),
        "n_emails", "n_phones", "n_ipv4", "n_secrets", "n_pii",
        "text_redacted",
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (ops/decontam.py — Spark-era pipeline
    surface, no reference analogue): flag corpus docs sharing any 8-token
    window with a benchmark set.  Benchmark = the first 12 tokens of every
    40th document (deterministic), so the sources and their exact/near
    duplicates must flag.  Corpus side is shuffle-free except the rare-hit
    per-doc count; benchmark grams broadcast."""
    from xapian_spark.ops.decontam import decontaminate

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
    )
    bench = (
        docs.where(F.col("doc_id") % 40 == 0)
        .select(
            F.array_join(
                F.slice(
                    F.expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"),
                    1, 12,
                ),
                " ",
            ).alias("text")
        )
    )
    out = decontaminate(docs, bench, id_col="docid", text_col="text", n=8)
    return out.select(
        F.col("id").alias("docid"),
        "n_ngrams", "n_contaminated", "contamination_frac", "contaminated",
    )


def _q_repetition_stats(spark, sf_dir):
    """Within-doc repetition statistics (ops/repetition.py — the
    Gopher/MassiveText quality-filter signals; Spark-era pipeline
    surface).  The sf corpus is single-line, so the entry deterministically
    rebuilds each document as newline-joined 10-token lines (replayed by
    the oracle via position groups) to exercise the line-duplication
    metrics alongside the n-gram ones."""
    from xapian_spark.ops.repetition import repetition_stats

    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1).cast("long").alias("docid"),
        F.when(
            F.size(toks) > 0,
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks), F.lit(10)),
                    lambda s: F.array_join(F.slice(toks, s, 10), " "),
                ),
                "\n",
            ),
        ).otherwise(F.lit("")).alias("text"),
    )
    out = repetition_stats(docs, "docid", "text")
    return out.select(
        F.col("id").alias("docid"),
        "n_tokens", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
        "dup_5gram_frac",
    )


def _q_quality_filter(spark, sf_dir):
    """Composite quality filter (ops/filtering.py — C4/Gopher-style
    keep/reject verdict with named first-failing rule; Spark-era pipeline
    surface).  Defaults over the raw corpus: rejects mix too_short /
    no_stopwords / repetitive_2gram with the bulk kept."""
    from xapian_spark.ops.filtering import quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1).cast("long").alias("docid"), "text"
    )
    out = quality_filter(docs, "docid", "text")
    return out.select(
        F.col("id").alias("docid"),
        "n_tokens", "mean_token_len", "stopword_ratio",
        "top_2gram_frac", "dup_5gram_frac", "keep", "reject_reason",
    )


def _q_hashed_tfidf(spark, sf_dir):
    """Hashed TF-IDF document vectors (ops/vectorize.py — the feature-
    hashing trick; Spark-era pipeline surface).  dim=32 signed hashing
    over the corpus; sparse (docid, bucket, weight) output.  The oracle
    replays the md5 bucket/sign hashes and the smoothed idf exactly."""
    from xapian_spark.ops.vectorize import hashed_tfidf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1).cast("long").alias("docid"), "text"
    )
    out = hashed_tfidf(docs, "docid", "text", dim=32)
    return out.select(F.col("id").alias("docid"), "bucket", "weight")


def _q_mix_report(spark, sf_dir):
    """Per-stratum mix report (ops/mixreport.py — the table a data-mix is
    designed from; Spark-era pipeline surface): per language, doc/token
    counts and the share surviving the quality filter.  The oracle
    aggregates the quality_filter replay by lang."""
    from xapian_spark.ops.mixreport import mix_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1).cast("long").alias("docid"), "text", "lang"
    )
    return mix_report(docs, "docid", "text", stratum_col="lang")


def _q_multiword_synonym(spark, sf_dir):
    """FLAG_AUTO_MULTIWORD_SYNONYMS end-to-end (queryparser.h:590;
    TermGroup::as_group, queryparser.lemony:1749-1831): the free-text run
    "dup vector" greedily matches the 2-word synonym key and parses to
    ((dup@1 OR vector@2) SYNONYM key); the group scores as ONE pseudo-term
    over the union stats (query.h:231-237, synonympostlist.h:50-57) —
    same math as the gated synonym_op, but with the group produced by the
    multi-word PARSER walk instead of an explicit AST."""
    from xapian_spark.query.parser import QueryParser

    qp = QueryParser(
        synonyms={"dup vector": ("key",)}, auto_multiword_synonyms=True
    )
    node = qp.parse_query("dup vector")
    assert node.describe() == "((dup@1 OR vector@2) SYNONYM key)"
    return _search(node, k=10)(spark, sf_dir)


def _q_pipeline_compose(spark, sf_dir):
    """End-to-end training-data pipeline composition: dedup_exact ->
    decontaminate -> quality_filter -> stratified_sample -> mix_report
    over the sf corpus — the shape an actual pretraining data run takes,
    chained as DataFrame stages (each stage individually gated already).
    Every stage's verdict is per-doc deterministic, so the oracle replays
    the chain as one WITH pipeline of the per-op oracles' CTEs; the final
    per-stratum mix table is the value-hash target."""
    from xapian_spark.ops.decontam import decontaminate
    from xapian_spark.ops.filtering import quality_filter
    from xapian_spark.ops.mixreport import mix_report
    from xapian_spark.ops.sampling import stratified_sample

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
        .select("docid", "text", "lang")
    )
    # 1. exact dedup: keep each duplicate group's canonical (lowest docid)
    canon = (
        dedup.exact_duplicates(docs, "docid", "text")
        .where("is_canonical")
        .select(F.col("id").alias("docid"))
    )
    d1 = docs.join(canon, "docid")
    # 2. decontamination against the benchmark set (first 12 tokens of
    #    every 40th doc of the FULL corpus — the same external-benchmark
    #    construction as the gated decontaminate entry); any overlap drops
    bench = docs.where((F.col("docid") - 1) % 40 == 0).select(
        F.array_join(
            F.slice(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"),
                1, 12,
            ),
            " ",
        ).alias("text")
    )
    clean = decontaminate(d1, bench, id_col="docid", text_col="text", n=8)
    d2 = d1.join(
        clean.where(F.col("contaminated") == 0)
        .select(F.col("id").alias("docid")),
        "docid",
    )
    # 3. composite quality filter: keep=1 verdicts survive
    keep = (
        quality_filter(d2, "docid", "text")
        .where(F.col("keep") == 1)
        .select(F.col("id").alias("docid"))
    )
    d3 = d2.join(keep, "docid")
    # 4. stratified mix sampling (same rates/seed as the gated entry)
    d4 = stratified_sample(
        d3, {"en": 0.5, "fr": 0.25, "zh": 0.1},
        stratum_col="lang", default_rate=0.05, key_col="docid", seed=42,
    )
    # 5. per-stratum mix report over the survivors (all keep=1 here by
    #    construction — kept_frac 1.0 is the expected degenerate column)
    return mix_report(d4, "docid", "text", stratum_col="lang")


def _q_trad_eset(spark, sf_dir):
    """TradEWeight expansion (Enquire::set_expansion_scheme("trad"),
    expand/tradeweight.cc:31-40): the second expansion scheme next to the
    gated Bo1.  Unlike Bo1 it weights wdf=0 boolean field terms too
    (wdf -> 1), so the oracle replays the S<source>/L<lang> terms the
    index adds per doc alongside the text postings."""
    from xapian_spark.query.expand import trad_eset

    idx = _index(spark, sf_dir)
    out = trad_eset(idx, list(range(1, 11)), k=10)
    return out.select("term", F.round("wt", 6).alias("wt"))


def _q_percent(spark, sf_dir):
    from xapian_spark.query.expand import with_percent

    idx = _index(spark, sf_dir)
    m = Planner(idx).plan(ast.Term("dup"))
    m = m.select("docid", F.round("score", 6).alias("score"))
    return (
        with_percent(m)
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
        .select("docid", "score", "percent")
    )


def _q_batch_or(spark, sf_dir):
    """Batched weighted-OR serving (broadcast query-table join)."""
    idx = _index(spark, sf_dir)
    qs = {"q1": ["dup", "vector"], "q2": ["scan"], "q3": ["key", "line", "fast"]}
    out = Planner(idx).search_batch_or(qs, k=10)
    return out.select(
        "query", "rank", "docid", F.round("score", 6).alias("score")
    )


def _q_batch_wand(spark, sf_dir):
    """Batched set-at-a-time block-max WAND serving (wand.batch_wand_topk):
    selective queries anchored on the rare term 'dup', where per-query
    thresholds prune (query, block) pairs before payload decode.  Scores
    are exactly the row-postings batch path's (WAND==brute equivalence is
    also pytest-pinned), so the same SQL oracle applies."""
    idx = _index(spark, sf_dir)
    assert idx.blocked is not None, "WAND entry requires blocked postings"
    qs = {
        "w1": ["dup", "vector"],
        "w2": ["dup", "scan"],
        "w3": ["dup", "key", "line"],
    }
    out = Planner(idx).search_batch_or(qs, k=10, use_wand=True)
    return out.select(
        "query", "rank", "docid", F.round("score", 6).alias("score")
    )


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )


def _q_jaccard(spark, sf_dir):
    out = dedup.ngram_jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "doc_id",
        "text",
        k=3,
        threshold=0.5,
        max_shingle_freq=10_000_000,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_dedup_components(spark, sf_dir):
    """Duplicate-group labels: connected components over the ngram-Jaccard
    near-duplicate pair graph (min-label propagation, ops/dedup.py)."""
    pairs = dedup.ngram_jaccard_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "doc_id", "text", k=3, threshold=0.5,
        max_shingle_freq=10_000_000,
    )
    return dedup.duplicate_components(pairs).orderBy("id")


def _q_dedup_spans(spark, sf_dir):
    """Per-doc exact-substring duplication coverage (repeated 10-token
    windows across docs, ops/dedup.py duplicate_spans)."""
    return dedup.duplicate_spans(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "doc_id", "text", window=10, stride=5,
    ).orderBy("id")


def _q_minhash_lsh(spark, sf_dir):
    out = dedup.minhash_lsh_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )
    return out.select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )


def _q_token_count(spark, sf_dir):
    return textstats.token_count(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )


def _q_quality(spark, sf_dir):
    out = textstats.quality_scores(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )
    return _round_cols(
        out,
        ["mean_token_len", "alpha_ratio", "stopword_ratio", "repetition_ratio"],
    )


def _q_langid(spark, sf_dir):
    out = textstats.language_id(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )
    return _round_cols(out, ["lang_score"])


def _q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )


def _q_snippet(spark, sf_dir):
    """MSet::snippet batched over the corpus (mset.h SNIPPET_*): best
    byte-budget window with query terms highlighted.  Background model off
    so the window choice is a pure query-weight maximization the oracle
    can replay (the sf corpus is single-space lowercase tokens, pinned by
    tests/test_search.py::test_snippet_corpus_shape_assumption)."""
    from xapian_spark.query.snippet import snippet_df

    return snippet_df(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        {"customer": 3.0, "table": 1.0},
        text_col="text", id_col="doc_id", length=120, flags=0,
    ).withColumnRenamed("doc_id", "id")


def _q_cluster_kmeans(spark, sf_dir):
    """Deterministic Lloyd's k-means (cluster/kmeans.cc re-expression) at
    max_iter=1 so the oracle can replay it exactly: init centroids = the k
    lowest vec_ids, one assign -> mean-update -> final assignment.  The
    full iterative path is pytest-covered (tests/test_cluster.py); this
    entry puts the assignment/update kernels under the driver's value-hash
    check."""
    from xapian_spark.ops.cluster import kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kmeans(emb, k=8, max_iter=1)
    return out.select("id", "cluster", F.round("dist", 6).alias("dist"))


def _q_cluster_lcd(spark, sf_dir):
    """LCD clustering (cluster/lcd_clusterer.cc:64-154): greedy equal-size
    partition of a ranked MSet for result diversification.  k=3 over the
    BM25 top-12 gives exactly three greedy rounds of four points each, so
    the oracle replays the whole construction as chained CTEs: per round,
    the 3 nearest remaining points by cosine distance join the center's
    cluster (stable tie-break = descending-weight order) and the farthest
    becomes the next center.  The general path (any k/size, zero-magnitude
    quirk) is pytest-covered in tests/test_cluster.py."""
    from xapian_spark.ops.cluster import lcd_cluster

    idx = _index(spark, sf_dir)
    m = (
        Planner(idx)
        .plan(ast.Term("dup"))
        .select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(12)
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        (F.col("vec_id") + 1).cast("long").alias("docid"), "embedding"
    )
    out = lcd_cluster(m.join(emb, "docid"), k=3, vec_col="embedding")
    return out.select("docid", F.round("score", 6).alias("score"), "cluster")


def _q_mmr_rerank(spark, sf_dir):
    """MMR diversification (ops/diversify.py mmr_rerank — Carbonell &
    Goldstein 1998; the round-bounded companion to the reference's GLS
    hill-climb, which has no SQL replay).  k=5 from the BM25 top-10 at
    lambda=0.5: exactly five greedy rounds, so the oracle replays the
    whole selection as chained CTEs; sim = dot/(sqrt(aa)*sqrt(bb)) in the
    engine's exact operation order."""
    from xapian_spark.ops.diversify import mmr_rerank

    idx = _index(spark, sf_dir)
    m = (
        Planner(idx)
        .plan(ast.Term("dup"))
        .select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        (F.col("vec_id") + 1).cast("long").alias("docid"), "embedding"
    )
    return mmr_rerank(m, emb, k=5, lambda_=0.5)


def _q_stream_window_stats(spark, sf_dir):
    """Structured Streaming under the value-hash gate: tumbling-window
    event stats computed BY THE STREAMING ENGINE (readStream -> window agg
    -> availableNow -> memory sink) over the bounded events table; the
    final complete-mode state must equal the plain GROUP BY the oracle
    runs.  Watermarked/append variants are pytest-covered
    (tests/test_ingest_stats.py) — append emission timing is a streaming
    property no batch SQL can replay."""
    from xapian_spark.streaming.ingest_stats import (
        run_bounded_to_table,
        windowed_event_stats,
    )

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the file-stream source wants a DIRECTORY; the sf table is a single
    # parquet file, so stream the dir with a glob pinned to that file
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    run_bounded_to_table(
        windowed_event_stats(stream), "stream_window_stats_sink"
    )
    return spark.table("stream_window_stats_sink").select(
        "window_id", "key", "n_events", F.round("sum_value", 6).alias("sum_value")
    )


def _q_warehouse_integrity(spark, sf_dir):
    """The whole write path under the driver gate: build a warehouse from
    the corpus (scripts/build_index.py's exact call), run the
    xapian-check-style invariants (bin/xapian-check.cc re-expression,
    merge.verify_invariants — content sha256 vs source, tf/cf vs runs,
    doclen, blocked==runs), and report them alongside corpus-level index
    stats the oracle RECOMPUTES independently from the documents table
    (n_docs / n_terms / n_postings / total_wdf via the SQL tokenizer
    replay).  A non-zero mismatch or a stats drift hash-fails the row."""
    import shutil
    import tempfile

    from xapian_spark.index import merge

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="wh_integrity_")
    path = f"{tmp}/idx"
    try:
        merge.build_warehouse(
            spark, docs, path, content_col="text", docid_col="docid",
            n_ranges=4,
        )
        inv = merge.verify_invariants(
            spark, path, docs, content_col="text", docid_col="docid"
        )
        runs = spark.read.parquet(f"{path}/runs")
        stats = runs.agg(
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_postings"),
            F.sum("wdf").alias("total_wdf"),
        ).collect()[0]
        row = {
            "n_docs": docs.count(),
            "n_terms": stats["n_terms"],
            "n_postings": stats["n_postings"],
            "total_wdf": int(stats["total_wdf"]),
            **{k: int(v) for k, v in inv.items()},
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cols = sorted(row)
    return spark.createDataFrame(
        [tuple(row[c] for c in cols)], ", ".join(f"{c} long" for c in cols)
    )


def _q_overlay_search(spark, sf_dir):
    """The LSM delete/replace overlay under the value-hash gate
    (WritableDatabase.delete_document / replace_document, api.py;
    glass's in-place postlist update re-expressed as tombstones + delta
    termlists, database.h semantics): build a warehouse, delete docids
    {2,3,5,7}, replace docid 11's content, commit, then run a BM25
    OR-query through the live read_warehouse view.  Every piece of the
    overlay is deterministic and the oracle replays it exactly —
    including the DOCUMENTED tf staleness (read_warehouse composes base
    term_stats + delta stats; deleted/replaced docs' old postings are
    not subtracted until compact(), the same docFreq staleness Lucene
    accepts between segment merges), while doccount/doclens/avg_len are
    exact live values.  Kill/resume, transactions and compaction physics
    stay pytest-covered (tests/test_mutations.py)."""
    import shutil
    import tempfile

    from xapian_spark.api import WritableDatabase
    from xapian_spark.index import merge

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
        .select("docid", "text")
    )
    tmp = tempfile.mkdtemp(prefix="wh_overlay_")
    path = f"{tmp}/idx"
    try:
        db = WritableDatabase(spark, path, n_ranges=4)
        db.add_documents(docs, content_col="text", docid_col="docid")
        db.commit()
        for d in (2, 3, 5, 7):
            db.delete_document(d)
        db.replace_document(
            11, {"text": "dup dup table merge scan"}, content_col="text"
        )
        db.commit()
        idx = merge.read_warehouse(spark, path)
        m = Planner(idx).plan(ast.Or((ast.Term("dup"), ast.Term("table"))))
        rows = (
            m.select("docid", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(10)
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(r["docid"], r["score"]) for r in rows], "docid long, score double"
    )


def _q_multidb_search(spark, sf_dir):
    """Multi-database search (Database::add_database, backends/multi.h):
    the corpus split into two shards indexed independently, combined with
    the reference's interleaved docid remap — combined docid =
    (shard_docid - 1) * n_shards + shard_index + 1 — and searched as one.
    Collection statistics combine exactly (tf/cf sums, doclen bound
    min/max), so scores equal the single-database build's and only the
    docids interleave; the oracle replays the remap arithmetic over the
    standard BM25 prelude.  Shard docids: shard 0 = docid <= N/2 as-is,
    shard 1 = docid - N/2."""
    from xapian_spark.api import Database

    docs = _docs(spark, sf_dir)
    half = docs.count() // 2
    a = docs.where(F.col("docid") <= half)
    b = docs.where(F.col("docid") > half).withColumn(
        "docid", (F.col("docid") - half).cast("long")
    )
    idx_a = build_index(spark, a, content_col="text", docid_col="docid")
    idx_b = build_index(spark, b, content_col="text", docid_col="docid")
    db = Database(spark, index=idx_a)
    db.add_database(Database(spark, index=idx_b))
    m = Planner(db.index).plan(ast.Or((ast.Term("dup"), ast.Term("key"))))
    return (
        m.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
    )


def _q_compact_search(spark, sf_dir):
    """Multi-source Compactor under the value-hash gate (compactor.h /
    bin/xapian-compact.cc: k-way merge of N committed warehouses with
    contiguous docid renumbering — source i shifts by the cumulative max
    docid of sources 0..i-1).  The corpus halves are built as two
    warehouses (shard B's docids rebased to 1..N/2), compacted into one,
    and searched: the renumber offsets (+0, +N/2) restore the ORIGINAL
    docids exactly, so the compacted warehouse must serve byte-identically
    to a direct single build — the oracle is the plain BM25 prelude, and
    the hash checks the whole build->compact->serve identity.  Status
    callbacks, no-renumber mode and metadata resolution stay
    pytest-covered (tests/test_multidb.py)."""
    import shutil
    import tempfile

    from xapian_spark.index import merge
    from xapian_spark.index.compactor import Compactor

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("docid", (F.col("doc_id") + 1).cast("long"))
        .select("docid", "text")
    )
    half = docs.count() // 2
    tmp = tempfile.mkdtemp(prefix="wh_compact_")
    try:
        merge.build_warehouse(
            spark, docs.where(F.col("docid") <= half), f"{tmp}/a",
            content_col="text", docid_col="docid", n_ranges=4,
        )
        b = docs.where(F.col("docid") > half).withColumn(
            "docid", (F.col("docid") - half).cast("long")
        )
        merge.build_warehouse(
            spark, b, f"{tmp}/b",
            content_col="text", docid_col="docid", n_ranges=4,
        )
        c = Compactor(spark)
        c.add_source(f"{tmp}/a")
        c.add_source(f"{tmp}/b")
        c.set_destdir(f"{tmp}/c")
        c.compact()
        idx = merge.read_warehouse(spark, f"{tmp}/c")
        m = Planner(idx).plan(ast.Or((ast.Term("merge"), ast.Term("slow"))))
        rows = (
            m.select("docid", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("docid"))
            .limit(10)
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(r["docid"], r["score"]) for r in rows], "docid long, score double"
    )


def _q_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "nn_rank"
    )


def _q_ivf_cosine(spark, sf_dir):
    """IVF coarse-quantizer ANN (exhaustive probe -> exact, oracle-checked;
    partial-probe recall covered in tests/test_ops.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.ivf_cosine_topk(
        emb, emb.where(F.col("vec_id") < 5), k=5, n_cells=4, nprobe=4
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "nn_rank"
    )


def _q_lsh_cosine_topk(spark, sf_dir):
    """LSH ANN with EXPLICIT params (what the corpus-adaptive default picks
    at sf0.01) so the DuckDB oracle can replicate the exact hyperplanes and
    Hamming-1 multi-probe — the whole pipeline is deterministic, so despite
    being 'approximate' it is value-hash checkable."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.lsh_cosine_topk(
        emb, emb.where(F.col("vec_id") < 5), k=5,
        n_planes=5, n_tables=4, multiprobe=1,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "nn_rank"
    )


def _q_embedding_near_dup(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # synthetic embeddings top out at cosine ~0.51, so 0.4 is the "near-dup"
    # band here; wider LSH (fewer planes, more tables) to keep recall up
    out = similarity.embedding_near_dup_pairs(
        emb, threshold=0.4, n_planes=4, n_tables=8
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: synthetic binary media table ->
    mapInPandas feature extraction -> flattened deterministic columns.
    Two blocks union-ed so both decode paths sit in the driver check:

    - decode="fake" rows (media_id 0-63): sha256-derived features whose
      arithmetic is SQL-reproducible, hash-checking the whole pipeline.
    - REAL PNG decode rows (media_id 1000+): synth_real_media's gradient
      images round-tripped through the pure-stdlib PNG encoder/decoder
      (zlib + all five row filters), reduced to integer per-channel pixel
      sums the oracle recomputes from the gradient's closed form — a
      byte-exact check of decode_png.  decode="real" for WAV/Y4M, resize
      and frame sampling are exercised by tests/test_ops.py.
    - REAL JPEG decode rows (media_id 2000+): flat-tile grayscale images
      through the from-scratch JPEG codec (ops/jpeg.py: Huffman + IDCT
      per ITU-T T.81; fixture rotation covers baseline, baseline with
      restart markers, and progressive SOF2 streams) with unit quant
      tables, so the decode is byte-exact and the oracle recomputes the
      pixel sums from the tile grid's closed form.
    - REAL MP4 rows (ops/mp4.py, ISO/IEC 14496-12 from scratch):
      media_id 3000+ are uncompressed-``raw `` videos demuxed through
      the full stsc/stco/stsz sample-table walk and decoded byte-exactly
      to per-channel pixel sums; media_id 4000+ are codec-free CONTAINER
      METADATA rows (duration/dimensions/frame count) over both ``raw ``
      and ``avc1``-labeled files — the filter-route-shard operation a
      100-TB video pipeline runs without any codec library.
    - REAL GIF rows (ops/gif.py, from-scratch LZW + GIF89a): media_id
      5000+ are 16-color palette images (odd rows interlaced) decoded
      byte-exactly to pixel sums; the oracle replays the palette and
      index closed forms."""
    from xapian_spark.ops import multimodal

    media = multimodal.synth_media(spark, n=64)
    feats = multimodal.extract_features(media)
    fake = feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
        F.round(F.element_at("feature", 2).cast("double"), 4).alias("f1"),
        F.round(F.element_at("feature", 16).cast("double"), 4).alias("f15"),
    )
    real = multimodal.synth_real_media(spark, n=48)
    png = multimodal.image_pixel_sums(real.where(F.col("mime") == "image/png"))
    png_rows = png.select(
        (F.col("media_id") + F.lit(1000)).alias("media_id"),
        F.lit("png").alias("kind"),
        F.col("n_raw").alias("n_bytes"),
        F.col("sum_r").cast("double").alias("f0"),
        F.col("sum_g").cast("double").alias("f1"),
        F.col("sum_b").cast("double").alias("f15"),
    )
    jpg = multimodal.image_pixel_sums(multimodal.synth_jpeg_media(spark, n=8))
    jpg_rows = jpg.select(
        (F.col("media_id") + F.lit(2000)).alias("media_id"),
        F.lit("jpeg").alias("kind"),
        F.col("n_raw").alias("n_bytes"),
        F.col("sum_r").cast("double").alias("f0"),
        F.col("sum_g").cast("double").alias("f1"),
        F.col("sum_b").cast("double").alias("f15"),
    )
    mp4_media = multimodal.synth_mp4_media(spark, n=8)
    mp4_rows = multimodal.video_pixel_sums(mp4_media).select(
        (F.col("media_id") + F.lit(3000)).alias("media_id"),
        F.lit("mp4").alias("kind"),
        F.col("n_raw").alias("n_bytes"),
        F.col("sum_r").cast("double").alias("f0"),
        F.col("sum_g").cast("double").alias("f1"),
        F.col("sum_b").cast("double").alias("f15"),
    )
    meta_rows = multimodal.mp4_metadata(mp4_media).select(
        (F.col("media_id") + F.lit(4000)).alias("media_id"),
        F.lit("mp4meta").alias("kind"),
        F.col("n_frames").alias("n_bytes"),
        F.col("duration_ms").cast("double").alias("f0"),
        F.col("width").cast("double").alias("f1"),
        F.col("height").cast("double").alias("f15"),
    )
    gif_rows = multimodal.image_pixel_sums(
        multimodal.synth_gif_media(spark, n=8)
    ).select(
        (F.col("media_id") + F.lit(5000)).alias("media_id"),
        F.lit("gif").alias("kind"),
        F.col("n_raw").alias("n_bytes"),
        F.col("sum_r").cast("double").alias("f0"),
        F.col("sum_g").cast("double").alias("f1"),
        F.col("sum_b").cast("double").alias("f15"),
    )
    return (
        fake.unionByName(png_rows).unionByName(jpg_rows)
        .unionByName(mp4_rows).unionByName(meta_rows)
        .unionByName(gif_rows).orderBy("media_id")
    )


# --------------------------------------------------------------------------
# driver entry points
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a mixed boolean query.

    sf_dir defaults to the driver's smoke scale but is env-overridable
    (SPARK_GRAFT_ENTRY_SF_DIR) so the smoke check can run at any scale."""
    q = ast.AndMaybe(
        ast.Or((ast.Term("dup"), ast.Term("vector"))), ast.Term("fast")
    )
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001"
    )
    return _search(q, k=10)(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # -- retrieval core: leaf + boolean combiners (SURVEY §2.2-2.3)
        "term_bm25": _search(ast.Term("dup")),
        "and_bm25": _search(ast.And((ast.Term("line"), ast.Term("key")))),
        "or_bm25": _search(ast.Or((ast.Term("dup"), ast.Term("vector")))),
        "and_not": _search(ast.AndNot(ast.Term("scan"), ast.Term("dup"))),
        "and_maybe": _search(ast.AndMaybe(ast.Term("dup"), ast.Term("fast"))),
        "filter_op": _search(ast.Filter(ast.Term("slow"), ast.Term("dup"))),
        "xor_op": _search(ast.Xor((ast.Term("dup"), ast.Term("key")))),
        "max_op": _search(ast.Max((ast.Term("dup"), ast.Term("key")))),
        "synonym_op": _search(ast.Synonym((ast.Term("dup"), ast.Term("vector")))),
        "scale_weight": _search(
            ast.ScaleWeight(2.5, ast.Or((ast.Term("dup"), ast.Term("key"))))
        ),
        "field_filter": _search(ast.Filter(ast.Term("batch"), ast.Term("Ssrc3"))),
        # -- positional (SURVEY §2.4)
        "phrase": _search(ast.Phrase((ast.Term("slow"), ast.Term("fast")), 2)),
        "near": _search(ast.Near((ast.Term("customer"), ast.Term("table")), 10)),
        # OR under positional (orpositionlist.cc): merged position lists
        "or_phrase": _search(
            ast.Phrase(
                (ast.Or((ast.Term("slow"), ast.Term("dup"))),
                 ast.Term("fast")), 2,
            )
        ),
        # -- wildcard expansion (SURVEY §2.3 OP_WILDCARD)
        "wildcard": _search(ast.Wildcard("s", combiner="or")),
        # -- CJK n-gram word-breaking (word-breaker.cc, FLAG_NGRAMS)
        "cjk_ngram_search": _q_cjk_ngram,
        # -- UAX#29 word segmentation (FLAG_WORD_BREAKS, queryparser.h:637)
        "word_breaks_search": _q_word_breaks,
        # -- values / match-set ops (SURVEY §2.5, §2.7)
        "value_range": _search(
            ast.Filter(ast.Term("join"), ast.ValueRange("n_chars", 120, 360))
        ),
        "allterms_page": _q_allterms_page,
        "sort_multi_key": _q_sort_multi_key,
        "date_range": _q_date_range,
        "collapse": _q_collapse,
        "facets": _q_facets,
        # -- weight schemes (SURVEY §2.5): BM25 (term_bm25) + one vector-space
        # representative inside the window; PL2 + the other 13 are pinned to
        # literal api_weight.cc doubles in tests/test_reference_golden.py and
        # PL2 stays oracle-checked below the window (see r4 rotation note in
        # BASELINE.md: pl2_weight ceded its slot to unit_range)
        "tfidf_weight": _search(ast.Term("dup"), weight=TfIdfWeight),
        # -- UnitRangeProcessor (queryparser.h:409, SURVEY §2.6)
        "unit_range": _q_unit_range,
        "decreasing_value_source": _q_decreasing_value,
        "match_decider": _q_match_decider,
        "geo_nearest": _q_geo_nearest,
        # -- parser / expansion / serving (SURVEY §2.6, §2.3, §2.5)
        "parser_mixed": _q_parser_mixed,
        "elite_set": _q_elite_set,
        "fuzzy_edit_distance": _q_fuzzy,
        "spelling_suggest": _q_spelling,
        "stemmed_search": _q_stemmed_search,  # dictionary-replay oracle
        "bo1_eset": _q_bo1_eset,
        "percent_scores": _q_percent,
        "batch_or_serving": _q_batch_or,
        "batch_wand_serving": _q_batch_wand,
        # -- training-data pipeline ops
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard": _q_jaccard,
        "minhash_lsh": _q_minhash_lsh,  # deterministic md5 pipeline: oracle replay
        "simhash_pairs": _q_simhash_pairs,  # deterministic md5 pipeline: oracle replay
        "token_count": _q_token_count,
        "quality_scores": _q_quality,
        "language_id": _q_langid,
        "fingerprint": _q_fingerprint,
        "cosine_topk": _q_cosine_topk,
        "lsh_cosine_topk": _q_lsh_cosine_topk,  # seeded planes: oracle replay
        "ivf_cosine_topk": _q_ivf_cosine,  # exhaustive probe: oracle-exact
        "embedding_near_dup": _q_embedding_near_dup,  # seeded planes: oracle replay
        "multimodal_features": _q_multimodal_features,  # SQL-replayable fake decode
        # position 51+: outside the driver's 50-entry check window by
        # design (the 50 above are the stable checked set); still
        # oracle-checked by the local tools/check_entry.py run
        "dedup_components": _q_dedup_components,
        "dedup_spans": _q_dedup_spans,
        "pl2_weight": _search(ast.Term("dup"), weight=PL2Weight),
        # rotated below the window in r4 (ceded its slot to
        # word_breaks_search); exactness pinned by
        # tests/test_api.py::test_matches_estimated_exact
        "matches_estimated": _q_matches_estimated,
        "snippet_highlight": _q_snippet,
        "cluster_kmeans": _q_cluster_kmeans,
        "stream_window_stats": _q_stream_window_stats,
        "warehouse_integrity": _q_warehouse_integrity,
        # position 59+: the full entry set rotated below the window in
        # round 3 (driver checks the first 50; these stay under the local
        # value-hash gate), restored in round 4 so every implemented
        # SURVEY row is oracle-checked again — plus first-time oracle
        # entries for the four weight schemes that never had one
        # (IneB2, BB2, PL2+, DLH) and a dictionary-replay oracle for
        # French stemmed search (previously rows-only).
        "count_all": _q_count_all,
        "sort_by_value": _q_sort_by_value,
        "value_weight_source": _q_value_weight,
        "trad_weight": _search(ast.Term("dup"), weight=TradWeight),
        "coord_weight": _search(
            ast.Or((ast.Term("dup"), ast.Term("key"), ast.Term("line"))),
            weight=CoordWeight,
        ),
        "bool_weight": _search(ast.Term("dup"), weight=BoolWeight),
        "bm25plus_weight": _search(ast.Term("dup"), weight=BM25PlusWeight),
        "inl2_weight": _search(ast.Term("dup"), weight=InL2Weight),
        "dph_weight": _search(ast.Term("dup"), weight=DPHWeight),
        "ifb2_weight": _search(ast.Term("dup"), weight=IfB2Weight),
        "dice_weight": _search(
            ast.Or((ast.Term("dup"), ast.Term("key"))), weight=DiceCoeffWeight
        ),
        "lm_weight": _search(ast.Term("dup"), weight=LMWeight),
        "tfidf_pivoted": _search(
            ast.Term("dup"),
            weight=lambda: TfIdfWeight(normalizations="Ptn"),
        ),
        "ineb2_weight": _search(ast.Term("dup"), weight=IneB2Weight),
        "bb2_weight": _search(ast.Term("dup"), weight=BB2Weight),
        "pl2plus_weight": _search(ast.Term("dup"), weight=PL2PlusWeight),
        "dlh_weight": _search(ast.Term("dup"), weight=DLHWeight),
        "stemmed_search_fr": _q_stemmed_search_fr,  # dictionary-replay oracle
        "cluster_lcd": _q_cluster_lcd,  # bounded greedy rounds: CTE replay
        "overlay_search": _q_overlay_search,  # LSM overlay staleness replay
        "multidb_search": _q_multidb_search,  # interleaved docid remap
        "compact_search": _q_compact_search,  # build->compact->serve identity
        # general n-term positional sweep (positional.py, the Arrow-batched
        # port of phrasepostlist.cc/nearpostlist.cc) — a different code
        # path from the gated 2-term/exact-phrase JVM branches
        "phrase3": _search(
            ast.Phrase(
                (ast.Term("table"), ast.Term("scan"), ast.Term("merge")), 8
            )
        ),
        "near3": _search(
            ast.Near(
                (ast.Term("customer"), ast.Term("table"), ast.Term("join")),
                10,
            )
        ),
        "trad_eset": _q_trad_eset,  # second expansion scheme, field terms in
        "chunk_documents": _q_chunk_documents,  # LLM-pipeline chunking
        "stratified_sample": _q_stratified_sample,  # deterministic mix sampling
        "pii_redact": _q_pii_report,  # PII scan + redaction scrub
        "decontaminate": _q_decontaminate,  # benchmark n-gram overlap
        "repetition_stats": _q_repetition_stats,  # Gopher repetition signals
        "quality_filter": _q_quality_filter,  # composite keep/reject verdict
        "mmr_rerank": _q_mmr_rerank,  # round-bounded MMR diversification
        "hashed_tfidf": _q_hashed_tfidf,  # feature-hashed document vectors
        "mix_report": _q_mix_report,  # per-stratum mix/token-budget report
        # position 93+: round-5 additions (window still frozen at the
        # first 50; these are local-gate entries like everything above 50)
        "multiword_synonym_search": _q_multiword_synonym,  # FLAG_AUTO_MULTIWORD_SYNONYMS
        "pipeline_compose": _q_pipeline_compose,  # 5-stage pipeline chain
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)
# --------------------------------------------------------------------------

# Shared prelude: tokenize + invert + stats, mirroring the engine build.
# docid = doc_id + 1 (1-based dense, matching the engine's docid column).
_PRELUDE = """
WITH toks AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS pos
  FROM documents
),
post AS (SELECT term, docid, count(*) AS wdf FROM toks GROUP BY term, docid),
dl AS (
  SELECT d.doc_id + 1 AS docid, coalesce(t.doclen, 0) AS doclen
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS doclen FROM toks GROUP BY docid) t
    ON t.docid = d.doc_id + 1
),
g AS (SELECT count(*) AS n, CAST(sum(doclen) AS DOUBLE) AS total FROM dl),
tstat AS (SELECT term, count(*) AS tf, sum(wdf) AS cf FROM post GROUP BY term),
-- BM25 per-term constants (bm25weight.cc:76-117; defaults k1=1 k3=1 b=0.5):
-- termweight = 2 * ln(tw') with tw = (N - tf + 0.5)/(tf + 0.5),
--              tw' = tw*0.5 + 1 when tw < 2
bm AS (
  SELECT t.term,
         (ln(CASE WHEN (g.n - t.tf + 0.5) / (t.tf + 0.5) < 2
                  THEN (g.n - t.tf + 0.5) / (t.tf + 0.5) * 0.5 + 1
                  ELSE (g.n - t.tf + 0.5) / (t.tf + 0.5) END) * 2.0) AS termweight,
         t.tf, t.cf
  FROM tstat t, g
),
-- per-(doc, term) BM25 sumpart (bm25weight.cc:170-181):
-- normlen = max(doclen * (1/avg_len), 0.5)
-- sumpart = termweight * wdf / (1*(normlen*0.5 + 0.5) + wdf)
sp AS (
  SELECT p.docid, p.term, p.wdf, l.doclen,
         b.termweight * (p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM post p
  JOIN dl l ON l.docid = p.docid
  JOIN bm b ON b.term = p.term
  CROSS JOIN g
)
"""


def _topk_sql(body: str, k: int = 10) -> str:
    return (
        _PRELUDE
        + f"SELECT docid, score FROM ({body}) ORDER BY score DESC, docid LIMIT {k}"
    )


def _sum_terms(terms: list[str], having: str = "", scale: str = "") -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    sel = f"round(sum(sumpart){scale}, 6)"
    h = f"HAVING {having}" if having else ""
    return (
        f"SELECT docid, {sel} AS score FROM sp WHERE term IN ({tl}) "
        f"GROUP BY docid {h}"
    )


def oracle_sql() -> dict[str, str]:
    q: dict[str, str] = {}

    q["term_bm25"] = _topk_sql(_sum_terms(["dup"]))
    q["and_bm25"] = _topk_sql(_sum_terms(["line", "key"], having="count(*) = 2"))
    q["or_bm25"] = _topk_sql(_sum_terms(["dup", "vector"]))
    # AND_NOT: left minus right, weight from left (query.h:92-97)
    q["and_not"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'scan' AND docid NOT IN "
        "(SELECT docid FROM post WHERE term = 'dup') GROUP BY docid"
    )
    # AND_MAYBE: matches = left; right only adds weight (query.h:107-116)
    q["and_maybe"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('dup', 'fast') AND docid IN "
        "(SELECT docid FROM post WHERE term = 'dup') GROUP BY docid"
    )
    # FILTER: AND, but only left weighted (query.h:118-126)
    q["filter_op"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'slow' AND docid IN "
        "(SELECT docid FROM post WHERE term = 'dup') GROUP BY docid"
    )
    # XOR: odd number of subqueries match (query.h:99-105)
    q["xor_op"] = _topk_sql(
        _sum_terms(["dup", "key"], having="count(*) % 2 = 1")
    )
    # MAX: docs of OR, weight = max child (query.h:239-247)
    q["max_op"] = _topk_sql(
        "SELECT docid, round(max(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('dup', 'key') GROUP BY docid"
    )
    # SYNONYM: scored as one pseudo-term, wdf = min(sum wdf, doclen),
    # tf = exact union termfreq (query.h:231-237, synonympostlist.h:50-57)
    q["synonym_op"] = (
        _PRELUDE
        + """
, sdocs AS (
  SELECT p.docid, least(sum(p.wdf), max(l.doclen)) AS wdf, max(l.doclen) AS doclen
  FROM post p JOIN dl l ON l.docid = p.docid
  WHERE p.term IN ('dup', 'vector') GROUP BY p.docid
),
stf AS (SELECT count(*) AS tf FROM sdocs)
SELECT docid, score FROM (
  SELECT d.docid,
    round((ln(CASE WHEN (g.n - s.tf + 0.5) / (s.tf + 0.5) < 2
              THEN (g.n - s.tf + 0.5) / (s.tf + 0.5) * 0.5 + 1
              ELSE (g.n - s.tf + 0.5) / (s.tf + 0.5) END) * 2.0)
      * (d.wdf / (1.0 * (greatest(d.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + d.wdf)), 6) AS score
  FROM sdocs d, stf s, g
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # SCALE_WEIGHT: factor folds into termweight (queryinternal.cc:1355-1360);
    # engine computes ((ln(tw') * 2.5) * 2) per term, then sums.
    q["scale_weight"] = (
        _PRELUDE
        + """
, sp2 AS (
  SELECT p.docid,
         ((ln(CASE WHEN (g.n - b.tf + 0.5) / (b.tf + 0.5) < 2
              THEN (g.n - b.tf + 0.5) / (b.tf + 0.5) * 0.5 + 1
              ELSE (g.n - b.tf + 0.5) / (b.tf + 0.5) END) * 2.5) * 2.0)
         * (p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g
  WHERE p.term IN ('dup', 'key')
)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp2 GROUP BY docid
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # boolean field term (omega-style prefix, api_queryparser.cc:63-79)
    q["field_filter"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'batch' AND docid IN "
        "(SELECT doc_id + 1 FROM documents WHERE source = 'src3') GROUP BY docid"
    )
    # PHRASE window=2: consecutive positions (exactphrasepostlist.cc:87-160)
    q["phrase"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('slow', 'fast') AND docid IN ("
        "  SELECT a.docid FROM toks a JOIN toks b ON b.docid = a.docid"
        "  WHERE a.term = 'slow' AND b.term = 'fast' AND b.pos = a.pos + 1)"
        "GROUP BY docid HAVING count(*) = 2"
    )
    # ("slow" OR "dup") PHRASE "fast": merged position lists
    # (orpositionlist.cc); weight = every present query term's sumpart
    q["or_phrase"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('slow', 'dup', 'fast') AND docid IN ("
        "  SELECT a.docid FROM toks a JOIN toks b ON b.docid = a.docid"
        "  WHERE a.term IN ('slow', 'dup') AND b.term = 'fast'"
        "  AND b.pos = a.pos + 1)"
        "GROUP BY docid"
    )
    # NEAR window=10: any order, span <= 9 (nearpostlist.cc:75-160)
    q["near"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('customer', 'table') AND docid IN ("
        "  SELECT a.docid FROM toks a JOIN toks b ON b.docid = a.docid"
        "  WHERE a.term = 'customer' AND b.term = 'table'"
        "  AND abs(a.pos - b.pos) <= 9)"
        "GROUP BY docid HAVING count(*) = 2"
    )
    # WILDCARD s* -> OR over dictionary matches (queryinternal.cc:1891-1945)
    q["wildcard"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN (SELECT term FROM tstat WHERE term LIKE 's%') "
        "GROUP BY docid"
    )
    # Stemmed search (STEM_SOME): dictionary-replay oracle.  Porter2 as an
    # algorithm is not SQL-expressible, but the query "merges scanning" only
    # needs the CLOSURE of its two stems over English morphology: the Z-term
    # posting for Zmerg/Zscan is exactly "tokens whose surface form is in the
    # merge/scan inflection family".  The families below are public-knowledge
    # English morphology; tests/test_stemmer.py::test_stemmed_search_oracle_closure
    # pins (a) every listed form stems to the right stem under the byte-parity
    # Porter2, and (b) no other token in the sf0.01/sf0.1 corpus vocabulary
    # stems into either family — so the dictionary IS the stemmer's behavior
    # on this corpus, same replay pattern as the minhash/simhash oracles.
    # Index-side STEM_SOME doubles doclen (unstemmed positional term + Z-stem
    # per token, termgenerator_internal.cc:318-362), hence doclen = 2*n.
    _merg = "'merge','merges','merged','merging'"
    _scan = "'scan','scans','scanned','scanning'"
    q["stemmed_search"] = f"""
WITH toks AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
dl AS (
  SELECT d.doc_id + 1 AS docid, 2 * coalesce(t.n, 0) AS doclen
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS n FROM toks GROUP BY docid) t
    ON t.docid = d.doc_id + 1
),
g AS (SELECT count(*) AS n, CAST(sum(doclen) AS DOUBLE) AS total FROM dl),
zpost AS (
  SELECT docid, 'Zmerg' AS zterm, count(*) AS wdf FROM toks
  WHERE term IN ({_merg}) GROUP BY docid
  UNION ALL
  SELECT docid, 'Zscan' AS zterm, count(*) AS wdf FROM toks
  WHERE term IN ({_scan}) GROUP BY docid
),
tstat AS (SELECT zterm, count(*) AS tf FROM zpost GROUP BY zterm),
bm AS (
  SELECT t.zterm,
         (ln(CASE WHEN (g.n - t.tf + 0.5) / (t.tf + 0.5) < 2
                  THEN (g.n - t.tf + 0.5) / (t.tf + 0.5) * 0.5 + 1
                  ELSE (g.n - t.tf + 0.5) / (t.tf + 0.5) END) * 2.0)
           AS termweight
  FROM tstat t, g
),
sp2 AS (
  SELECT p.docid,
         b.termweight * (p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM zpost p
  JOIN dl l ON l.docid = p.docid
  JOIN bm b ON b.zterm = p.zterm
  CROSS JOIN g
)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp2 GROUP BY docid
) ORDER BY score DESC, docid LIMIT 10
"""
    # VALUE_RANGE as boolean filter (valuerangepostlist.cc; never weighted)
    q["value_range"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'join' AND docid IN "
        "(SELECT doc_id + 1 FROM documents WHERE n_chars BETWEEN 120 AND 360) "
        "GROUP BY docid"
    )
    # CJK FLAG_NGRAMS end-to-end: ngram tokenization (unigrams + bigrams
    # per word) -> BM25 AND-of-grams, over the derived CJK corpus
    cjk_q = "dup".translate(
        str.maketrans("abcdefghijklmnopqrstuvwxyz", _CJK26)
    )
    grams = [cjk_q[0], cjk_q[0:2], cjk_q[1], cjk_q[1:3], cjk_q[2]]
    gram_list = ", ".join(f"'{g}'" for g in grams)
    q["cjk_ngram_search"] = f"""
WITH words AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
cw AS (SELECT docid,
              translate(w, 'abcdefghijklmnopqrstuvwxyz', '{_CJK26}') AS w
       FROM words),
uni AS (SELECT docid, substr(w, i, 1) AS term FROM cw,
        LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) t),
bi AS (SELECT docid, substr(w, i, 2) AS term FROM cw,
       LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) t),
ctoks AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
cpost AS (SELECT term, docid, count(*) AS wdf FROM ctoks
          GROUP BY term, docid),
cdl AS (
  SELECT d.doc_id + 1 AS docid, coalesce(t.doclen, 0) AS doclen
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS doclen FROM ctoks GROUP BY docid) t
    ON t.docid = d.doc_id + 1
),
cg AS (SELECT count(*) AS n, CAST(sum(doclen) AS DOUBLE) AS total FROM cdl),
ctstat AS (SELECT term, count(*) AS tf FROM cpost GROUP BY term),
cbm AS (
  SELECT t.term,
         (ln(CASE WHEN (g.n - t.tf + 0.5) / (t.tf + 0.5) < 2
                  THEN (g.n - t.tf + 0.5) / (t.tf + 0.5) * 0.5 + 1
                  ELSE (g.n - t.tf + 0.5) / (t.tf + 0.5) END) * 2.0)
           AS termweight
  FROM ctstat t, cg g
),
csp AS (
  SELECT p.docid, p.term,
         b.termweight * (p.wdf / (1.0 * (greatest(l.doclen *
           (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM cpost p
  JOIN cdl l ON l.docid = p.docid
  JOIN cbm b ON b.term = p.term
  CROSS JOIN cg g
)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM csp
  WHERE term IN ({gram_list})
  GROUP BY docid HAVING count(*) = 5
) ORDER BY score DESC, docid LIMIT 10
"""
    # UnitRangeProcessor: size:0.1K..0.3K -> n_chars in [102.4, 307.2]
    # (byte-unit factor 1024 applied to both bounds; valuerangeproc.cc:331)
    q["unit_range"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'join' AND docid IN "
        "(SELECT doc_id + 1 FROM documents "
        " WHERE n_chars BETWEEN 102.4 AND 307.2) "
        "GROUP BY docid"
    )
    # FLAG_WORD_BREAKS: UAX#29 segmentation of the mixed Katakana/Thai
    # corpus replayed on the ORIGINAL text — a translated word's segments
    # are exactly the original word split around every n-z letter (a-m ->
    # Katakana joins per WB13, n-z -> Thai splits per WB999), then
    # translated.  Query = AND of the segments of translated 'dup'.
    wb_terms = [
        seg.translate(str.maketrans("abcdefghijklmnopqrstuvwxyz", _WB26))
        for seg in ["d", "u", "p"]
    ]
    wb_term_list = ", ".join(f"'{t}'" for t in wb_terms)
    q["word_breaks_search"] = f"""
WITH words AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
segs AS (
  SELECT docid,
         unnest(regexp_extract_all(w, '[a-m]+|[n-z]')) AS seg
  FROM words
),
wtoks AS (
  SELECT docid,
         translate(seg, 'abcdefghijklmnopqrstuvwxyz', '{_WB26}') AS term
  FROM segs
),
wpost AS (SELECT term, docid, count(*) AS wdf FROM wtoks
          GROUP BY term, docid),
wdl AS (
  SELECT d.doc_id + 1 AS docid, coalesce(t.doclen, 0) AS doclen
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS doclen FROM wtoks GROUP BY docid) t
    ON t.docid = d.doc_id + 1
),
wg AS (SELECT count(*) AS n, CAST(sum(doclen) AS DOUBLE) AS total FROM wdl),
wtstat AS (SELECT term, count(*) AS tf FROM wpost GROUP BY term),
wbm AS (
  SELECT t.term,
         (ln(CASE WHEN (g.n - t.tf + 0.5) / (t.tf + 0.5) < 2
                  THEN (g.n - t.tf + 0.5) / (t.tf + 0.5) * 0.5 + 1
                  ELSE (g.n - t.tf + 0.5) / (t.tf + 0.5) END) * 2.0)
           AS termweight
  FROM wtstat t, wg g
),
wsp AS (
  SELECT p.docid, p.term,
         b.termweight * (p.wdf / (1.0 * (greatest(l.doclen *
           (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM wpost p
  JOIN wdl l ON l.docid = p.docid
  JOIN wbm b ON b.term = p.term
  CROSS JOIN wg g
)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM wsp
  WHERE term IN ({wb_term_list})
  GROUP BY docid HAVING count(*) = {len(wb_terms)}
) ORDER BY score DESC, docid LIMIT 10
"""
    # DateRangeProcessor: 01/02/2020..31/10/2020 (D/M/Y) -> 20200201..20201031
    # over the derived YYYYMMDD date_val slot (same arithmetic as _docs)
    q["date_range"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'join' AND docid IN "
        "(SELECT doc_id + 1 FROM documents "
        " WHERE strftime(DATE '2020-01-01' + (doc_id % 1461)::INT, '%Y%m%d') "
        "   BETWEEN '20200201' AND '20201031') "
        "GROUP BY docid"
    )
    # MultiValueKeyMaker composite sort: (source asc, n_chars desc, docid)
    q["sort_multi_key"] = (
        _PRELUDE
        + """
SELECT d.doc_id + 1 AS docid, d.source, d.n_chars
FROM documents d
WHERE d.doc_id + 1 IN (SELECT docid FROM post WHERE term = 'merge')
ORDER BY d.source ASC, d.n_chars DESC, docid LIMIT 10
"""
    )
    # multimodal plumbing: synth media + sha256-derived fake features are
    # fully SQL-reproducible (same arithmetic as ops/multimodal.py); the
    # png block replays synth_real_media's gradient images in closed form
    # (R = x*255//(w-1), G = y*255//(h-1), B = (42+37*i)%256) so the
    # engine's real decode_png must reproduce every pixel byte-exactly
    q["multimodal_features"] = """
WITH m AS (
  SELECT i,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
         END AS kind,
         repeat(sha256(concat('42:', i::varchar)), 4 + i % 7) AS payload_hex
  FROM (SELECT unnest(generate_series(0, 63)) AS i)
),
f AS (SELECT i, kind, 32 * (4 + i % 7) AS n_bytes,
             sha256(payload_hex) AS h
      FROM m),
png AS (
  SELECT i, 16 + (i % 8) * 4 AS w, 12 + (i % 5) * 4 AS h,
         (42 + 37 * i) % 256 AS blue
  FROM (SELECT unnest(generate_series(0, 47)) AS i)
  WHERE i % 3 = 0 AND (i // 3) % 2 = 1
),
rsum AS (
  SELECT p.i, sum((t.x * 255) // (p.w - 1)) AS s
  FROM png p, LATERAL unnest(generate_series(0, p.w - 1)) AS t(x)
  GROUP BY p.i
),
gsum AS (
  SELECT p.i, sum((t.y * 255) // (p.h - 1)) AS s
  FROM png p, LATERAL unnest(generate_series(0, p.h - 1)) AS t(y)
  GROUP BY p.i
),
jpg AS (
  SELECT i, 2 + i % 3 AS txn, 1 + i % 4 AS tyn
  FROM (SELECT unnest(generate_series(0, 7)) AS i)
),
jsum AS (
  -- flat-tile grayscale JPEG: tile (ty, tx) = (42 + 13i + 29ty + 53tx) % 256,
  -- 64 pixels per tile; grayscale expands to 3 equal channels
  SELECT j.i, sum(64 * ((42 + 13 * j.i + 29 * t2.ty + 53 * t1.tx) % 256)) AS s
  FROM jpg j,
       LATERAL unnest(generate_series(0, j.txn - 1)) AS t1(tx),
       LATERAL unnest(generate_series(0, j.tyn - 1)) AS t2(ty)
  GROUP BY j.i
),
mp4 AS (
  SELECT i, 8 * (1 + i % 3) AS w, 4 * (1 + i % 2) AS h,
         2 + i % 3 AS nf, 5 + i % 3 AS fps
  FROM (SELECT unnest(generate_series(0, 7)) AS i)
),
msum AS (
  -- raw-RGB MP4 fixture: pixel (f,y,x,c) = (42 + 17i + 7f + 29y + 53x
  -- + 101c) % 256; odd i are avc1-labeled and carry no pixel-sum row
  SELECT m.i,
    sum((42 + 17 * m.i + 7 * t3.f + 29 * t2.y + 53 * t1.x) % 256) AS s_r,
    sum((143 + 17 * m.i + 7 * t3.f + 29 * t2.y + 53 * t1.x) % 256) AS s_g,
    sum((244 + 17 * m.i + 7 * t3.f + 29 * t2.y + 53 * t1.x) % 256) AS s_b
  FROM mp4 m,
       LATERAL unnest(generate_series(0, m.w - 1)) AS t1(x),
       LATERAL unnest(generate_series(0, m.h - 1)) AS t2(y),
       LATERAL unnest(generate_series(0, m.nf - 1)) AS t3(f)
  WHERE m.i % 2 = 0
  GROUP BY m.i
),
gif AS (
  SELECT i, 6 + 2 * (i % 5) AS w, 4 + 2 * (i % 3) AS h
  FROM (SELECT unnest(generate_series(0, 7)) AS i)
),
gsum2 AS (
  -- 16-color GIF fixture: palette[j] = (7j+1, 11j+3, 13j+5), all < 256;
  -- index(y, x) = (5i + 3y + 2x) % 16
  SELECT g.i,
    sum(7 * ((5 * g.i + 3 * t2.y + 2 * t1.x) % 16) + 1) AS s_r,
    sum(11 * ((5 * g.i + 3 * t2.y + 2 * t1.x) % 16) + 3) AS s_g,
    sum(13 * ((5 * g.i + 3 * t2.y + 2 * t1.x) % 16) + 5) AS s_b
  FROM gif g,
       LATERAL unnest(generate_series(0, g.w - 1)) AS t1(x),
       LATERAL unnest(generate_series(0, g.h - 1)) AS t2(y)
  GROUP BY g.i
)
SELECT i AS media_id, kind, n_bytes::bigint AS n_bytes,
  round(('0x' || substr(h, 1, 2))::int / 255.0 * 2.0 - 1.0, 4) AS f0,
  round(('0x' || substr(h, 3, 2))::int / 255.0 * 2.0 - 1.0, 4) AS f1,
  round(('0x' || substr(h, 31, 2))::int / 255.0 * 2.0 - 1.0, 4) AS f15
FROM f
UNION ALL
SELECT 1000 + p.i AS media_id, 'png' AS kind,
  (p.w * p.h * 3)::bigint AS n_bytes,
  (p.h * rsum.s)::double AS f0,
  (p.w * gsum.s)::double AS f1,
  (p.w * p.h * p.blue)::double AS f15
FROM png p JOIN rsum ON rsum.i = p.i JOIN gsum ON gsum.i = p.i
UNION ALL
SELECT 2000 + j.i AS media_id, 'jpeg' AS kind,
  (8 * j.txn * 8 * j.tyn * 3)::bigint AS n_bytes,
  jsum.s::double AS f0, jsum.s::double AS f1, jsum.s::double AS f15
FROM jpg j JOIN jsum ON jsum.i = j.i
UNION ALL
SELECT 3000 + m.i AS media_id, 'mp4' AS kind,
  (m.nf * m.h * m.w * 3)::bigint AS n_bytes,
  msum.s_r::double AS f0, msum.s_g::double AS f1, msum.s_b::double AS f15
FROM mp4 m JOIN msum ON msum.i = m.i
UNION ALL
SELECT 4000 + m.i AS media_id, 'mp4meta' AS kind,
  m.nf::bigint AS n_bytes,
  ((m.nf * 1000) // m.fps)::double AS f0,
  m.w::double AS f1, m.h::double AS f15
FROM mp4 m
UNION ALL
SELECT 5000 + g.i AS media_id, 'gif' AS kind,
  (g.w * g.h * 3)::bigint AS n_bytes,
  gsum2.s_r::double AS f0, gsum2.s_g::double AS f1, gsum2.s_b::double AS f15
FROM gif g JOIN gsum2 ON gsum2.i = g.i
ORDER BY media_id
"""
    # exact total match count (get_matches_estimated)
    q["matches_estimated"] = (
        _PRELUDE
        + "SELECT count(*) AS matches FROM (SELECT DISTINCT docid "
        "FROM post WHERE term IN ('dup', 'vector'))"
    )
    # dictionary paging by prefix (allterms cursor)
    q["allterms_page"] = (
        _PRELUDE
        + "SELECT term, tf FROM tstat WHERE term LIKE 's%' "
        "ORDER BY term LIMIT 50"
    )
    q["collapse"] = (
        _PRELUDE
        + """
, m AS (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp
  WHERE term IN ('dup', 'key') GROUP BY docid
),
r AS (
  SELECT d.source, m.docid, m.score,
         row_number() OVER (PARTITION BY d.source ORDER BY m.score DESC, m.docid) AS rn
  FROM m JOIN documents d ON d.doc_id + 1 = m.docid
)
SELECT source, docid, score FROM r WHERE rn = 1
"""
    )
    q["facets"] = (
        _PRELUDE
        + """
SELECT d.lang, count(*) AS cnt
FROM documents d
WHERE d.doc_id + 1 IN (SELECT docid FROM post WHERE term = 'batch')
GROUP BY d.lang
"""
    )
    # TfIdf "ntn" (tfidfweight.cc): w = wdf * ln(N/tf)
    q["tfidf_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid, round(ln(g.n / b.tf) * p.wdf, 6) AS score
  FROM post p JOIN bm b ON b.term = p.term CROSS JOIN g
  WHERE p.term = 'dup'
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DecreasingValueWeightPostingSource: weight = (1e6 - docid) * 0.001,
    # non-increasing by docid -> top-10 = first 10 docids
    q["decreasing_value_source"] = """
SELECT docid, score FROM (
  SELECT doc_id + 1 AS docid,
         CAST(round((1000000.0 - (doc_id + 1)) * 0.001, 6) AS DOUBLE) AS score
  FROM documents
) ORDER BY score DESC, docid LIMIT 10
"""
    # DFR PL2 (pl2weight.cc:160-175), c=1: wdfn=wdf*log2(1+avlen/len);
    # P = P1 + (wdfn+0.5)*log2(wdfn) - P2*wdfn; score = P/(wdfn+1) when P>0
    # with mean=cf/N, P1=mean/ln2 + 0.5*log2(2pi), P2=log2(mean)+1/ln2
    q["pl2_weight"] = (
        _PRELUDE
        + """
, c AS (
  SELECT b.cf / (1.0 * g.n) AS mean,
         (b.cf / (1.0 * g.n)) / ln(2) + 0.5 * log2(2 * pi()) AS p1,
         log2(b.cf / (1.0 * g.n)) + 1.0 / ln(2) AS p2,
         g.total / g.n AS avlen
  FROM bm b CROSS JOIN g WHERE b.term = 'dup'
),
w AS (
  SELECT p.docid,
         p.wdf * log2(1 + c.avlen / l.doclen) AS wdfn,
         c.p1, c.p2
  FROM post p JOIN dl l ON l.docid = p.docid CROSS JOIN c
  WHERE p.term = 'dup' AND p.wdf > 0
)
SELECT docid, score FROM (
  SELECT docid,
         round(CASE WHEN p1 + (wdfn + 0.5) * log2(wdfn) - p2 * wdfn > 0
               THEN (p1 + (wdfn + 0.5) * log2(wdfn) - p2 * wdfn) / (wdfn + 1.0)
               ELSE 0.0 END, 6) AS score
  FROM w
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # MatchDecider: candidates post-filtered by a doc-value predicate
    q["match_decider"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term = 'batch' AND docid IN "
        "(SELECT doc_id + 1 FROM documents WHERE n_chars > 250) "
        "GROUP BY docid"
    )

    # geospatial nearest-k: haversine over synthetic coords from doc_id
    q["geo_nearest"] = """
WITH pts AS (
  SELECT doc_id + 1 AS docid,
         CAST((doc_id % 180) - 90 + 0.5 AS DOUBLE) AS lat,
         CAST(((doc_id * 7) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM documents
),
d AS (
  SELECT docid,
    (2.0 * 6371008.8) * asin(sqrt(
      sin((10.0 - lat) * (pi() / 180.0) / 2.0) * sin((10.0 - lat) * (pi() / 180.0) / 2.0)
      + cos(lat * (pi() / 180.0)) * cos(10.0 * (pi() / 180.0))
        * sin((20.0 - lon) * (pi() / 180.0) / 2.0) * sin((20.0 - lon) * (pi() / 180.0) / 2.0)
    )) AS dist
  FROM pts
)
SELECT docid, round(dist, 4) AS distance_m
FROM d ORDER BY dist ASC, docid LIMIT 10
"""
    # parser: '"slow fast" OR dup' — weight of the phrase subtree counts
    # only where the phrase itself matches (matching-subquery sum)
    q["parser_mixed"] = (
        _PRELUDE
        + """
, ph AS (
  SELECT DISTINCT a.docid FROM toks a JOIN toks b ON b.docid = a.docid
  WHERE a.term = 'slow' AND b.term = 'fast' AND b.pos = a.pos + 1
)
SELECT docid, score FROM (
  SELECT s.docid,
    round(sum(CASE
      WHEN s.term IN ('slow','fast') AND s.docid IN (SELECT docid FROM ph)
        THEN s.sumpart
      WHEN s.term = 'dup' THEN s.sumpart
      ELSE 0 END), 6) AS score
  FROM sp s
  WHERE s.term IN ('slow','fast','dup')
    AND (s.docid IN (SELECT docid FROM ph)
         OR s.docid IN (SELECT docid FROM post WHERE term = 'dup'))
  GROUP BY s.docid
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # ELITE_SET: top-2 of 5 terms by maxpart bound (bm25weight.cc:183-208)
    q["elite_set"] = (
        _PRELUDE
        + """
, tmax AS (SELECT term, max(wdf) AS wdf_max FROM post GROUP BY term),
gl AS (SELECT CAST(min(doclen) AS DOUBLE) AS dl_lb FROM dl),
mp AS (
  SELECT b.term,
    b.termweight * (t.wdf_max /
      (1.0 * (greatest(greatest(CAST(t.wdf_max AS DOUBLE), gl.dl_lb)
              * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + t.wdf_max)
    ) AS maxpart
  FROM bm b JOIN tmax t ON t.term = b.term CROSS JOIN gl CROSS JOIN g
  WHERE b.term IN ('dup','key','line','scan','batch')
),
sel AS (SELECT term FROM mp ORDER BY maxpart DESC, term LIMIT 2)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp
  WHERE term IN (SELECT term FROM sel) GROUP BY docid
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # OP_EDIT_DISTANCE: dictionary terms within transposition-aware edit
    # distance 1 of 'scen' (editdistance.cc counts transpositions as one
    # edit; at threshold 1 restricted and unrestricted Damerau coincide,
    # so DuckDB's damerau_levenshtein is an exact oracle)
    q["fuzzy_edit_distance"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN (SELECT term FROM tstat "
        "  WHERE abs(length(term) - 4) <= 1 "
        "  AND damerau_levenshtein(term, 'scen') <= 1) "
        "GROUP BY docid"
    )
    # spelling: trigram candidates ranked (transposition-aware distance,
    # tf desc, term); damerau_levenshtein matches the engine's OSA on this
    # dictionary (restricted/unrestricted diverge only on contrived cases)
    q["spelling_suggest"] = (
        _PRELUDE
        + """
SELECT 'batcg' AS word,
  (SELECT term FROM tstat
   WHERE abs(length(term) - 5) <= 2
     AND damerau_levenshtein(term, 'batcg') <= 2
   ORDER BY damerau_levenshtein(term, 'batcg') ASC, tf DESC, term ASC
   LIMIT 1
  ) AS suggestion
"""
    )
    # Bo1 expansion over rset docids 1..10 (bo1eweight.cc:33-43)
    q["bo1_eset"] = (
        _PRELUDE
        + """
, rcf AS (
  SELECT term, CAST(sum(wdf) AS DOUBLE) AS rcf FROM post
  WHERE docid BETWEEN 1 AND 10 AND wdf > 0 GROUP BY term
)
SELECT term, wt FROM (
  SELECT r.term,
    round(r.rcf * (ln((1.0 + t.cf / g.n) / (t.cf / g.n)) / ln(2.0))
          + (ln(1.0 + t.cf / g.n) / ln(2.0)), 6) AS wt,
    r.rcf * (ln((1.0 + t.cf / g.n) / (t.cf / g.n)) / ln(2.0))
          + (ln(1.0 + t.cf / g.n) / ln(2.0)) AS wt_raw
  FROM rcf r JOIN tstat t ON t.term = r.term CROSS JOIN g
) ORDER BY wt_raw DESC, term LIMIT 10
"""
    )
    # percent of best attained score
    q["percent_scores"] = _PRELUDE + """
, m AS (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp
  WHERE term = 'dup' GROUP BY docid
),
mx AS (SELECT max(score) AS mx FROM m)
SELECT docid, score,
  CASE WHEN score > 0 AND mx > 0
    THEN greatest(1, CAST(round(100.0 * score / mx) AS INT)) ELSE 0 END
    AS percent
FROM m CROSS JOIN mx ORDER BY score DESC, docid LIMIT 10
"""
    # batched weighted-OR serving: 3 queries, one broadcast join
    q["batch_or_serving"] = (
        _PRELUDE
        + """
, qt(query, term) AS (
  VALUES ('q1','dup'),('q1','vector'),('q2','scan'),
         ('q3','key'),('q3','line'),('q3','fast')
),
scored AS (
  SELECT qt.query, s.docid, sum(s.sumpart) AS raw
  FROM sp s JOIN qt ON qt.term = s.term GROUP BY qt.query, s.docid
),
ranked AS (
  SELECT query, docid, raw,
    row_number() OVER (PARTITION BY query ORDER BY raw DESC, docid) AS rank
  FROM scored
)
SELECT query, rank, docid, round(raw, 6) AS score
FROM ranked WHERE rank <= 10
"""
    )
    # batched block-max WAND serving: same BM25 math, selective queries;
    # WAND is rank/score-identical to the brute batch path by construction
    q["batch_wand_serving"] = (
        _PRELUDE
        + """
, qt(query, term) AS (
  VALUES ('w1','dup'),('w1','vector'),('w2','dup'),('w2','scan'),
         ('w3','dup'),('w3','key'),('w3','line')
),
scored AS (
  SELECT qt.query, s.docid, sum(s.sumpart) AS raw
  FROM sp s JOIN qt ON qt.term = s.term GROUP BY qt.query, s.docid
),
ranked AS (
  SELECT query, docid, raw,
    row_number() OVER (PARTITION BY query ORDER BY raw DESC, docid) AS rank
  FROM scored
)
SELECT query, rank, docid, round(raw, 6) AS score
FROM ranked WHERE rank <= 10
"""
    )

    # -- pipeline ops --------------------------------------------------------
    q["dedup_exact"] = """
WITH k AS (
  SELECT doc_id AS id,
         sha256(array_to_string(regexp_extract_all(lower(text), '[a-z0-9_]+'), ' ')) AS dup_key
  FROM documents
)
SELECT id, dup_key,
       count(*) OVER (PARTITION BY dup_key) AS group_size,
       (row_number() OVER (PARTITION BY dup_key ORDER BY id) = 1) AS is_canonical
FROM k
"""
    q["ngram_jaccard"] = """
WITH t AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2
)
SELECT id_a, id_b, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE inter / (sa.n + sb.n - inter) >= 0.5
"""
    # connected components over the same near-dup pair graph: min
    # reachable id via a recursive CTE (the SQL twin of the engine's
    # min-label propagation)
    q["dedup_components"] = """
WITH RECURSIVE t AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
p AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2
),
near AS (
  SELECT id_a, id_b FROM p
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE inter / (sa.n + sb.n - inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM near
  UNION
  SELECT id_b AS src, id_a AS dst FROM near
),
reach(id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT id, min(comp) AS component FROM reach GROUP BY id ORDER BY id
"""
    # per-doc exact-substring duplication coverage: md5 of each stride-5
    # 10-token window; a window is "shared" when >= 2 distinct docs emit it
    q["dedup_spans"] = """
WITH t AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
wins AS (
  SELECT id, md5(array_to_string(toks[i+1:i+10], ' ')) AS whash
  FROM t, unnest(range(0, len(toks) - 10 + 1, 5)) AS u(i)
  WHERE len(toks) >= 10
),
per_doc AS (SELECT id, count(*) AS n_windows FROM wins GROUP BY id),
shared AS (
  SELECT whash FROM (SELECT DISTINCT id, whash FROM wins)
  GROUP BY whash HAVING count(*) >= 2
),
dups AS (
  SELECT id, count(*) AS n_dup_windows
  FROM wins WHERE whash IN (SELECT whash FROM shared)
  GROUP BY id
)
SELECT p.id, p.n_windows,
       coalesce(d.n_dup_windows, 0) AS n_dup_windows,
       round(coalesce(d.n_dup_windows, 0) * 1.0 / p.n_windows, 6)
         AS dup_ratio
FROM per_doc p LEFT JOIN dups d ON d.id = p.id
ORDER BY p.id
"""
    q["token_count"] = """
SELECT doc_id AS id,
       len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS n_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+'))) AS n_unique_tokens
FROM documents
"""
    # Portable form only (no lambdas / `->`, which newer DuckDB builds parse
    # as the JSON arrow operator): sum-of-token-lengths via array_to_string
    # concat, stopword count via unnest + GROUP BY + LEFT JOIN.
    q["quality_scores"] = """
WITH t AS (
  SELECT doc_id AS id, text,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
tok AS (SELECT id, unnest(toks) AS tok FROM t),
agg AS (
  SELECT id,
         sum(CASE WHEN tok IN ('the','and','of','to','is','in','that','it','for','was')
             THEN 1 ELSE 0 END) AS n_stop
  FROM tok GROUP BY id
)
SELECT t.id,
  length(t.text) AS n_chars,
  len(t.toks) AS n_tokens,
  round(CASE WHEN len(t.toks) > 0
    THEN CAST(length(array_to_string(t.toks, '')) AS DOUBLE) / len(t.toks)
    ELSE 0.0 END, 6) AS mean_token_len,
  round(CASE WHEN length(t.text) > 0
    THEN CAST(length(regexp_replace(lower(t.text), '[^a-z]', '', 'g')) AS DOUBLE) / length(t.text)
    ELSE 0.0 END, 6) AS alpha_ratio,
  round(CASE WHEN len(t.toks) > 0
    THEN CAST(coalesce(a.n_stop, 0) AS DOUBLE) / len(t.toks)
    ELSE 0.0 END, 6) AS stopword_ratio,
  round(CASE WHEN len(t.toks) > 0
    THEN 1.0 - CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks)
    ELSE 0.0 END, 6) AS repetition_ratio
FROM t LEFT JOIN agg a ON a.id = t.id
"""
    profiles = textstats.LANG_PROFILES
    # Flat (lang, word) pairs — deduped per lang so the occurrence join below
    # matches list_contains semantics (each token occurrence counted once).
    pair_rows = ", ".join(
        f"('{lang}', '{w}')"
        for lang, words in profiles.items()
        for w in dict.fromkeys(words)
    )
    # Portable form only (no lambdas / `->`): per-occurrence match counts via
    # unnest + equi-join + GROUP BY, zero-score langs restored by the
    # langs cross join + LEFT JOIN.
    q["language_id"] = f"""
WITH t AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
tok AS (SELECT id, unnest(toks) AS tok FROM t),
lw AS (SELECT * FROM (VALUES {pair_rows}) AS v(lang, word)),
m AS (
  SELECT tok.id, lw.lang, count(*) AS hits
  FROM tok JOIN lw ON tok.tok = lw.word
  GROUP BY tok.id, lw.lang
),
langs AS (SELECT DISTINCT lang FROM lw),
s AS (
  SELECT t.id, langs.lang,
    CASE WHEN len(t.toks) > 0
      THEN CAST(coalesce(m.hits, 0) AS DOUBLE) / len(t.toks)
      ELSE 0.0 END AS score
  FROM t CROSS JOIN langs
  LEFT JOIN m ON m.id = t.id AND m.lang = langs.lang
),
best AS (
  SELECT id, lang, score,
         row_number() OVER (PARTITION BY id ORDER BY score DESC, lang DESC) AS rn
  FROM s
)
SELECT id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
       round(score, 6) AS lang_score
FROM best WHERE rn = 1
"""
    # fingerprint: sum over positions of (md5-28bit(token) % m) * pos, mod m.
    # Portable form only: hex-literal cast for the 28-bit hash (exact
    # equivalence with Spark conv(substring(md5,1,7),16,10) — same identity the
    # simhash oracle relies on), positions via generate_subscripts, aggregate
    # via GROUP BY + LEFT JOIN.  The left-fold (acc+v)%m in the engine equals
    # sum(v)%m because every v >= 0 and DuckDB sums bigint into hugeint
    # (no intermediate overflow).
    q["fingerprint"] = """
WITH tk AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS pos
  FROM documents
),
h AS (
  SELECT id,
         sum((('0x' || substring(md5(tok), 1, 7))::BIGINT % 2147483647) * pos)
           % 2147483647 AS fp
  FROM tk
  GROUP BY id
)
SELECT d.doc_id AS id,
       CAST(coalesce(h.fp, 0) AS BIGINT) AS fingerprint
FROM documents d LEFT JOIN h ON h.id = d.doc_id
"""
    q["ivf_cosine_topk"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
    CASE WHEN sqrt(list_dot_product(q.e, q.e)) > 0 AND sqrt(list_dot_product(v.e, v.e)) > 0
      THEN list_dot_product(v.e, q.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(v.e, v.e)))
      ELSE 0.0 END AS cosine
  FROM v CROSS JOIN (SELECT * FROM v WHERE vec_id < 5) q
  WHERE v.vec_id <> q.vec_id
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
  FROM p
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, nn_rank
FROM r WHERE nn_rank <= 5
"""
    q["cosine_topk"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
    CASE WHEN sqrt(list_dot_product(q.e, q.e)) > 0 AND sqrt(list_dot_product(v.e, v.e)) > 0
      THEN list_dot_product(v.e, q.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(v.e, v.e)))
      ELSE 0.0 END AS cosine
  FROM v CROSS JOIN (SELECT * FROM v WHERE vec_id < 5) q
  WHERE v.vec_id <> q.vec_id
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
  FROM p
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, nn_rank
FROM r WHERE nn_rank <= 5
"""
    q["minhash_lsh"] = _minhash_lsh_oracle_sql()
    q["simhash_pairs"] = _simhash_oracle_sql()
    q["lsh_cosine_topk"] = _lsh_topk_oracle_sql()
    q["embedding_near_dup"] = _near_dup_oracle_sql()
    # snippet_highlight: exact replay of the snippet window algorithm over
    # the single-space-token sf corpus (shape pinned by pytest).  Token k's
    # char span is pure offset arithmetic; the engine's two-pointer picks,
    # for each window end `hi`, the smallest `lo` whose span fits the
    # 120-byte budget, then the first (smallest-hi) window of max weight —
    # replayed as min-fitting-lo per hi + ORDER BY score DESC, hi ASC.
    # Docs with no query-term match take the lead-of-text branch.  Portable
    # form only (equi-joins + GROUP BY + window sums; no lambdas).
    q["snippet_highlight"] = """
WITH tk AS (
  SELECT doc_id AS id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
o2 AS (
  SELECT id, tok, pos,
         CASE WHEN tok = 'customer' THEN 3 WHEN tok = 'table' THEN 1
              ELSE 0 END AS w,
         coalesce(sum(length(tok) + 1) OVER (
             PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tstart,
         coalesce(sum(length(tok) + 1) OVER (
             PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + length(tok) AS tend,
         sum(CASE WHEN tok = 'customer' THEN 3 WHEN tok = 'table' THEN 1
                  ELSE 0 END) OVER (PARTITION BY id ORDER BY pos) AS wcum
  FROM tk
),
doc AS (SELECT doc_id AS id, text, length(text) AS total FROM documents),
fit AS (
  SELECT h.id, h.pos AS hi, min(l.pos) AS lo
  FROM o2 h JOIN o2 l
    ON l.id = h.id AND l.pos <= h.pos AND l.tstart >= h.tend - 120
  GROUP BY h.id, h.pos
),
acc AS (
  SELECT f.id, f.hi, f.lo, h.wcum - coalesce(lp.wcum, 0) AS score
  FROM fit f
  JOIN o2 h ON h.id = f.id AND h.pos = f.hi
  LEFT JOIN o2 lp ON lp.id = f.id AND lp.pos = f.lo - 1
),
best AS (
  SELECT id, hi, lo,
         row_number() OVER (PARTITION BY id ORDER BY score DESC, hi ASC) AS rn
  FROM acc WHERE score > 0
),
wtext AS (
  SELECT b.id,
         string_agg(CASE WHEN o2.w > 0 THEN '<b>' || o2.tok || '</b>'
                         ELSE o2.tok END, ' ' ORDER BY o2.pos) AS body,
         min(o2.tstart) AS wstart, max(o2.tend) AS wend
  FROM best b JOIN o2 ON o2.id = b.id AND o2.pos BETWEEN b.lo AND b.hi
  WHERE b.rn = 1
  GROUP BY b.id
),
lead_end AS (
  SELECT id, max(CASE WHEN tend <= 120 THEN tend ELSE 0 END) AS kend,
         max(w) AS mw
  FROM o2 GROUP BY id
)
SELECT d.id,
       CASE
         WHEN le.mw > 0 THEN
           CASE WHEN wt.wstart > 0 THEN '...' ELSE '' END || wt.body ||
           CASE WHEN wt.wend < d.total THEN '...' ELSE '' END
         WHEN d.total <= 120 THEN d.text
         ELSE substring(d.text, 1, CAST(le.kend AS INTEGER)) || '...'
       END AS snippet
FROM doc d
JOIN lead_end le ON le.id = d.id
LEFT JOIN wtext wt ON wt.id = d.id
"""
    # cluster_kmeans: exact replay of one Lloyd iteration.  Init centroids
    # are the k lowest vec_ids (cluster = rank-1), assignment is argmin of
    # squared euclidean distance with ties to the lowest cluster id
    # (np.argmin first-minimum), update is the per-dimension mean over the
    # first assignment (empty clusters keep the init centroid), and the
    # output is the assignment under the updated centroids — the same
    # sequence kmeans(max_iter=1) runs.  Portable form only.
    q["cluster_kmeans"] = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
tall AS (
  SELECT id, unnest(e) AS val, generate_subscripts(e, 1) AS dim FROM v
),
init AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS cluster
  FROM v ORDER BY id LIMIT 8
),
c0 AS (
  SELECT i.cluster, t.dim, t.val AS c FROM init i JOIN tall t ON t.id = i.id
),
d1 AS (
  SELECT t.id, c0.cluster, sum((t.val - c0.c) * (t.val - c0.c)) AS dist
  FROM tall t JOIN c0 ON c0.dim = t.dim
  GROUP BY t.id, c0.cluster
),
a1 AS (
  SELECT id, cluster,
         row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rn
  FROM d1
),
means AS (
  SELECT a1.cluster, t.dim, avg(t.val) AS c
  FROM a1 JOIN tall t ON t.id = a1.id
  WHERE a1.rn = 1
  GROUP BY a1.cluster, t.dim
),
c1 AS (
  SELECT c0.cluster, c0.dim, coalesce(m.c, c0.c) AS c
  FROM c0 LEFT JOIN means m ON m.cluster = c0.cluster AND m.dim = c0.dim
),
d2 AS (
  SELECT t.id, c1.cluster, sum((t.val - c1.c) * (t.val - c1.c)) AS dist
  FROM tall t JOIN c1 ON c1.dim = t.dim
  GROUP BY t.id, c1.cluster
),
a2 AS (
  SELECT id, cluster, dist,
         row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rn
  FROM d2
)
SELECT id, cluster, round(greatest(dist, 0.0), 6) AS dist
FROM a2 WHERE rn = 1
"""
    # stream_window_stats: the streaming engine's complete-mode final state
    # over a bounded source equals this batch GROUP BY.  Tumbling windows
    # align to the epoch; TimestampType micros are timezone-free, so
    # floor(epoch/21600) is the window ordinal on both sides.
    q["stream_window_stats"] = """
SELECT CAST(floor(epoch(ts) / 21600) AS BIGINT) AS window_id,
       event_type AS key,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
"""
    # warehouse_integrity: the oracle recomputes the index-level stats from
    # the raw corpus with the SQL tokenizer replay and pins every
    # xapian-check invariant counter at zero — the engine row only hashes
    # equal if the warehouse it just built is internally consistent AND
    # matches the independent inversion.
    q["warehouse_integrity"] = """
WITH toks AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
post AS (SELECT term, docid, count(*) AS wdf FROM toks GROUP BY term, docid)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(DISTINCT term) FROM post) AS n_terms,
       (SELECT count(*) FROM post) AS n_postings,
       (SELECT sum(wdf) FROM post) AS total_wdf,
       0 AS sha256_mismatches,
       0 AS term_stats_mismatches,
       0 AS doclen_mismatches,
       0 AS blocked_vs_runs_posting_diff,
       0 AS blocked_vs_runs_wdf_diff
"""
    # -- position 59+: the round-3 rotated set, restored under the local
    #    value-hash gate, plus first-time oracles for IneB2/BB2/PL2+/DLH
    #    and the French dictionary-replay stemmed search.
    q["count_all"] = "SELECT count(*) AS cnt FROM documents"
    q["sort_by_value"] = (
        _PRELUDE
        + """
SELECT d.doc_id + 1 AS docid, d.n_chars
FROM documents d
WHERE d.doc_id + 1 IN (SELECT docid FROM post WHERE term = 'merge')
ORDER BY d.n_chars DESC, docid LIMIT 10
"""
    )
    # ValueWeightPostingSource: weight = n_chars * 0.01 over all docs
    q["value_weight_source"] = """
SELECT docid, score FROM (
  SELECT doc_id + 1 AS docid,
         round(CAST(n_chars AS DOUBLE) * 0.01, 6) AS score
  FROM documents WHERE n_chars IS NOT NULL
) ORDER BY score DESC, docid LIMIT 10
"""
    # TradWeight (tradweight.cc): w = ln(tw') * wdf / (doclen/avg + wdf)
    q["trad_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(ln(CASE WHEN (g.n - b.tf + 0.5) / (b.tf + 0.5) < 2
             THEN (g.n - b.tf + 0.5) / (b.tf + 0.5) * 0.5 + 1
             ELSE (g.n - b.tf + 0.5) / (b.tf + 0.5) END)
      * (p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.0) * 1.0 + 0.0) + p.wdf)), 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup'
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # CoordWeight (coordweight.cc): 1 point per matching subquery
    q["coord_weight"] = _topk_sql(
        "SELECT docid, round(CAST(count(*) AS DOUBLE), 6) AS score FROM sp "
        "WHERE term IN ('dup', 'key', 'line') GROUP BY docid"
    )
    # BoolWeight: all zero
    q["bool_weight"] = _topk_sql(
        "SELECT docid, CAST(0.0 AS DOUBLE) AS score FROM sp "
        "WHERE term = 'dup' GROUP BY docid"
    )
    # BM25+ (bm25plusweight.cc): idf=ln((N+1)/tf);
    # sumpart = tw * ((k1+1)*wdf/denom + delta), delta=1
    q["bm25plus_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(ln((g.n + 1) / b.tf)
      * (2.0 * p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf) + 1.0), 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup'
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR InL2 (inl2weight.cc:123-134): idf=log2((N+1)/(tf+0.5));
    # wdfn = wdf * log2(1 + c*avlen/len); w = idf * wdfn/(wdfn+1)
    q["inl2_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(log2((g.n + 1) / (b.tf + 0.5))
      * ((p.wdf * log2(1 + (1.0 * (g.total / g.n)) / l.doclen))
         / ((p.wdf * log2(1 + (1.0 * (g.total / g.n)) / l.doclen)) + 1.0)), 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup' AND p.wdf > 0
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR DPH (dphweight.cc:139-156), parameter-free:
    # norm=(1-wdf/len)^2/(wdf+1);
    # wt = norm*(wdf*(log2(wdf/len)+log2(total/cf)) + 0.5*log2(2pi*wdf*(1-wdf/len)))
    q["dph_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(CASE WHEN p.wdf = l.doclen THEN 0.0 ELSE
      greatest(
        ((1.0 - p.wdf / (1.0 * l.doclen)) * (1.0 - p.wdf / (1.0 * l.doclen)) / (p.wdf + 1.0))
        * (p.wdf * (log2(p.wdf / (1.0 * l.doclen)) + log2(g.total / b.cf))
           + 0.5 * log2(2 * pi() * p.wdf * (1.0 - p.wdf / (1.0 * l.doclen)))),
        0.0) END, 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup' AND p.wdf > 0
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR IfB2 (ifb2weight.cc): idf=log2((N+1)/(cf+0.5)); B=(cf+1)/tf;
    # wdfn=wdf*log2(1+avlen/len); score = idf * wdfn*B/(wdfn+1)
    q["ifb2_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(log2((g.n + 1.0) / (b.cf + 0.5))
      * ((p.wdf * log2(1 + (g.total / g.n) / l.doclen)) * ((b.cf + 1.0) / b.tf)
         / ((p.wdf * log2(1 + (g.total / g.n) / l.doclen)) + 1.0)), 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup' AND p.wdf > 0
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DiceCoeffWeight (dicecoeffweight.cc): per matching query term
    # 2/(qlen + uniqterms); uniqterms = full termlist incl. the 2 boolean
    # field terms (S<source>, L<lang>) the index adds per doc
    q["dice_weight"] = (
        _PRELUDE
        + """
, uniq AS (
  SELECT docid, count(DISTINCT term) + 2 AS uniqterms FROM toks GROUP BY docid
)
SELECT docid, score FROM (
  SELECT p.docid, round(sum(2.0 / (2.0 + u.uniqterms)), 6) AS score
  FROM post p JOIN uniq u ON u.docid = p.docid
  WHERE p.term IN ('dup', 'key') AND p.wdf > 0
  GROUP BY p.docid
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # LM Dirichlet (lmweight.cc:180-182,205-206): p=(wdf+mu*cf/T)/(len+mu);
    # score = ln(p * doclen_ub) when > 1 else 0; mu=2000
    q["lm_weight"] = (
        _PRELUDE
        + """
, ub AS (SELECT CAST(max(doclen) AS DOUBLE) AS dub FROM dl)
SELECT docid, score FROM (
  SELECT p.docid,
    round(CASE WHEN ((p.wdf + 2000.0 * (b.cf / g.total)) / (l.doclen + 2000.0)) * ub.dub > 1.0
      THEN ln(((p.wdf + 2000.0 * (b.cf / g.total)) / (l.doclen + 2000.0)) * ub.dub)
      ELSE 0.0 END, 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g CROSS JOIN ub WHERE p.term = 'dup'
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # TfIdf "Ptn" (tfidfweight.cc:263-268): wdfn = (1+ln(1+ln(wdf))) *
    # 1/(1-slope+slope*doclen/avg) + delta (slope=.2 delta=1); idfn=ln(N/tf)
    q["tfidf_pivoted"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(((1.0 + ln(1.0 + ln(p.wdf)))
           * (1.0 / (0.8 + 0.2 * (l.doclen / (g.total / g.n)))) + 1.0)
          * ln(g.n / b.tf), 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup' AND p.wdf > 0
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR IneB2 (ineb2weight.cc): like IfB2 but idf uses the EXPECTED
    # termfreq under a Poisson model: idf=log2((N+1)/(N*(1-e^{-cf/N})+0.5))
    q["ineb2_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(log2((g.n + 1.0) / (g.n * (1.0 - exp(-(b.cf / (1.0 * g.n)))) + 0.5))
      * ((p.wdf * log2(1 + (g.total / g.n) / l.doclen)) * ((b.cf + 1.0) / b.tf)
         / ((p.wdf * log2(1 + (g.total / g.n) / l.doclen)) + 1.0)), 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup' AND p.wdf > 0
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR BB2 (bb2weight.cc:150-180), c=1: Bose-Einstein with Stirling
    # approximation.  tw=(cf+1)/tf; wdfn=min(wdf*log2(1+avlen/len), cf-1);
    # stirling(d,y,c)=(y+0.5)*(c-log2(y))+d*c with sc1=log2(N+cf-1),
    # sc2=log2(cf); w = tw/(wdfn+1) * (-1/ln2 - log2(N-1)
    #   + stirling(wdfn+1, (N-2)+(cf-wdfn), sc1) - stirling(wdfn, cf-wdfn, sc2));
    # score = max(w, 0), N clamped to >= 2.
    q["bb2_weight"] = (
        _PRELUDE
        + """
, c AS (
  SELECT (b.cf + 1.0) / b.tf AS tw,
         CAST(b.cf AS DOUBLE) AS cf,
         CASE WHEN g.n <= 2 THEN 2.0 ELSE CAST(g.n AS DOUBLE) END AS nn,
         g.total / g.n AS avlen
  FROM bm b CROSS JOIN g WHERE b.term = 'dup'
),
w AS (
  SELECT p.docid, c.tw, c.cf, c.nn,
         least(p.wdf * log2(1 + c.avlen / l.doclen), c.cf - 1.0) AS wdfn
  FROM post p JOIN dl l ON l.docid = p.docid CROSS JOIN c
  WHERE p.term = 'dup' AND p.wdf > 0
)
SELECT docid, score FROM (
  SELECT docid,
    round(CASE WHEN wdfn <= 0 THEN 0.0 ELSE greatest(
      (tw / (wdfn + 1.0)) * (
        -1.0 / ln(2) - log2(nn - 1.0)
        + ((greatest(nn - 2.0, 0.0) + cf - wdfn) + 0.5)
            * (log2(nn + cf - 1.0) - log2(greatest(nn - 2.0, 0.0) + cf - wdfn))
        + (wdfn + 1.0) * log2(nn + cf - 1.0)
        - ((cf - wdfn + 0.5) * (log2(cf) - log2(cf - wdfn)) + wdfn * log2(cf))
      ), 0.0) END, 6) AS score
  FROM w
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR PL2+ (pl2plusweight.cc, c=1 delta=0.8): vanilla PL2's
    # P/(wdfn+1) plus the lower-bound bonus dw = P(delta)/(delta+1),
    # guarded AFTER the addition; 0 when mean = cf/N < 1.
    q["pl2plus_weight"] = (
        _PRELUDE
        + """
, c AS (
  SELECT b.cf / (1.0 * g.n) AS mean,
         (b.cf / (1.0 * g.n)) / ln(2) + 0.5 * log2(2 * pi()) AS p1,
         log2(b.cf / (1.0 * g.n)) + 1.0 / ln(2) AS p2,
         g.total / g.n AS avlen
  FROM bm b CROSS JOIN g WHERE b.term = 'dup'
),
c2 AS (
  SELECT mean, p1, p2, avlen,
         (p1 + (0.8 + 0.5) * log2(0.8) - p2 * 0.8) / 1.8 AS dw
  FROM c
),
w AS (
  SELECT p.docid, p.wdf * log2(1 + c2.avlen / l.doclen) AS wdfn,
         c2.p1, c2.p2, c2.dw, c2.mean
  FROM post p JOIN dl l ON l.docid = p.docid CROSS JOIN c2
  WHERE p.term = 'dup' AND p.wdf > 0
)
SELECT docid, score FROM (
  SELECT docid,
    round(CASE WHEN mean < 1 THEN 0.0
          WHEN (p1 + (wdfn + 0.5) * log2(wdfn) - p2 * wdfn) / (wdfn + 1.0) + dw > 0
          THEN (p1 + (wdfn + 0.5) * log2(wdfn) - p2 * wdfn) / (wdfn + 1.0) + dw
          ELSE 0.0 END, 6) AS score
  FROM w
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # DFR DLH (dlhweight.cc), parameter-free: L = total_len/cf;
    # wt = (wdf*log2((wdf/len)*L) + (len-wdf)*log2(1-wdf/len)
    #       + 0.5*log2(2pi*wdf*(1-wdf/len))) / (wdf+0.5);
    # score = max(wt, 0), 0 when wdf == len.
    q["dlh_weight"] = (
        _PRELUDE
        + """
SELECT docid, score FROM (
  SELECT p.docid,
    round(CASE WHEN p.wdf = l.doclen THEN 0.0 ELSE
      greatest(
        (p.wdf * log2((p.wdf / (1.0 * l.doclen)) * (g.total / b.cf))
         + (l.doclen - p.wdf) * log2(1.0 - p.wdf / (1.0 * l.doclen))
         + 0.5 * log2(2 * pi() * p.wdf * (1.0 - p.wdf / (1.0 * l.doclen))))
        / (p.wdf + 0.5), 0.0) END, 6) AS score
  FROM post p JOIN dl l ON l.docid = p.docid JOIN bm b ON b.term = p.term
  CROSS JOIN g WHERE p.term = 'dup' AND p.wdf > 0
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # French stemmed search (STEM_SOME, Stem('french')): dictionary-replay
    # oracle, same pattern as stemmed_search — the query "merges tables"
    # stems to merg/tabl under French, whose closures over the corpus
    # vocabulary are exactly {merge} and {table}; pinned complete by
    # tests/test_stemmer.py::test_stemmed_search_fr_oracle_closure.
    # STEM_SOME doubles doclen (unstemmed positional + Z-stem per token).
    q["stemmed_search_fr"] = """
WITH toks AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
dl AS (
  SELECT d.doc_id + 1 AS docid, 2 * coalesce(t.n, 0) AS doclen
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS n FROM toks GROUP BY docid) t
    ON t.docid = d.doc_id + 1
),
g AS (SELECT count(*) AS n, CAST(sum(doclen) AS DOUBLE) AS total FROM dl),
zpost AS (
  SELECT docid, 'Zmerg' AS zterm, count(*) AS wdf FROM toks
  WHERE term IN ('merge') GROUP BY docid
  UNION ALL
  SELECT docid, 'Ztabl' AS zterm, count(*) AS wdf FROM toks
  WHERE term IN ('table') GROUP BY docid
),
tstat AS (SELECT zterm, count(*) AS tf FROM zpost GROUP BY zterm),
bm AS (
  SELECT t.zterm,
         (ln(CASE WHEN (g.n - t.tf + 0.5) / (t.tf + 0.5) < 2
                  THEN (g.n - t.tf + 0.5) / (t.tf + 0.5) * 0.5 + 1
                  ELSE (g.n - t.tf + 0.5) / (t.tf + 0.5) END) * 2.0)
           AS termweight
  FROM tstat t, g
),
sp2 AS (
  SELECT p.docid,
         b.termweight * (p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM zpost p
  JOIN dl l ON l.docid = p.docid
  JOIN bm b ON b.zterm = p.zterm
  CROSS JOIN g
)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp2 GROUP BY docid
) ORDER BY score DESC, docid LIMIT 10
"""
    # LCD clustering (lcd_clusterer.cc:64-154) replayed exactly: k=3 over
    # the BM25 top-12 MSet -> n_small = 3 - 12%3 = 3, x = 12//3+1 = 5, so
    # every round takes (x-1)-1 = 3 nearest remaining points by cosine
    # distance 1 - ip/sqrt(|a|^2*|b|^2) plus the center; the FARTHEST
    # remaining point becomes the next center.  Stable distance ties keep
    # descending-weight (rank) order -> ORDER BY dist, rnk.  o1 has 11
    # rows and o2 has 7, so the next centers are nn=11 and nn=7 exactly.
    q["cluster_lcd"] = (
        _PRELUDE
        + """
, m AS (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp WHERE term = 'dup'
  GROUP BY docid ORDER BY score DESC, docid LIMIT 12
),
r0 AS (
  SELECT m.docid, m.score,
         row_number() OVER (ORDER BY m.score DESC, m.docid) AS rnk,
         CAST(e.embedding AS DOUBLE[]) AS v
  FROM m JOIN embeddings e ON e.vec_id + 1 = m.docid
),
pd AS (
  SELECT a.docid AS a, b.docid AS b,
    CASE WHEN sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) > 0
      THEN 1.0 - list_dot_product(a.v, b.v)
           / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))
      ELSE 0.0 END AS dist
  FROM r0 a JOIN r0 b ON a.docid <> b.docid
),
c1 AS (SELECT docid FROM r0 WHERE rnk = 1),
o1 AS (
  SELECT r.docid, row_number() OVER (ORDER BY p.dist ASC, r.rnk ASC) AS nn
  FROM r0 r CROSS JOIN c1 JOIN pd p ON p.a = c1.docid AND p.b = r.docid
),
clus1 AS (SELECT docid FROM o1 WHERE nn <= 3 UNION ALL SELECT docid FROM c1),
c2 AS (SELECT docid FROM o1 WHERE nn = 11),
o2 AS (
  SELECT r.docid, row_number() OVER (ORDER BY p.dist ASC, r.rnk ASC) AS nn
  FROM r0 r CROSS JOIN c2 JOIN pd p ON p.a = c2.docid AND p.b = r.docid
  WHERE r.docid NOT IN (SELECT docid FROM clus1)
),
clus2 AS (SELECT docid FROM o2 WHERE nn <= 3 UNION ALL SELECT docid FROM c2)
SELECT m.docid, m.score,
  CASE WHEN m.docid IN (SELECT docid FROM clus1) THEN 1
       WHEN m.docid IN (SELECT docid FROM clus2) THEN 2
       ELSE 3 END AS cluster
FROM m
"""
    )
    # LSM overlay replay (read_warehouse composition, merge.py): the query
    # entry deletes docids {2,3,5,7} and replaces docid 11 with
    # 'dup dup table merge scan'.  Live matching/doclens/doccount are
    # exact (dead docids anti-joined out, delta postings unioned in);
    # per-term tf is the DOCUMENTED stale composite: base tf over the FULL
    # original corpus (deleted/replaced docs' old postings are not
    # subtracted until compact) PLUS the delta rows' stats — replayed
    # below as tstat0 + deltap.  avg_len = exact live total/count.
    q["overlay_search"] = """
WITH toks AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
post0 AS (SELECT term, docid, count(*) AS wdf FROM toks GROUP BY term, docid),
tstat0 AS (SELECT term, count(*) AS tf FROM post0 GROUP BY term),
deltap AS (
  SELECT * FROM (VALUES (11, 'dup', 2), (11, 'table', 1),
                        (11, 'merge', 1), (11, 'scan', 1))
  AS t(docid, term, wdf)
),
tstat AS (
  SELECT term, sum(tf) AS tf FROM (
    SELECT term, tf FROM tstat0
    UNION ALL SELECT term, count(*) AS tf FROM deltap GROUP BY term
  ) GROUP BY term
),
dl0 AS (
  SELECT d.doc_id + 1 AS docid, coalesce(t.n, 0) AS doclen
  FROM documents d
  LEFT JOIN (SELECT docid, count(*) AS n FROM toks GROUP BY docid) t
    ON t.docid = d.doc_id + 1
),
live_dl AS (
  SELECT docid, doclen FROM dl0 WHERE docid NOT IN (2, 3, 5, 7, 11)
  UNION ALL SELECT 11 AS docid, 5 AS doclen
),
g AS (SELECT count(*) AS n, CAST(sum(doclen) AS DOUBLE) AS total FROM live_dl),
livepost AS (
  SELECT term, docid, wdf FROM post0 WHERE docid NOT IN (2, 3, 5, 7, 11)
  UNION ALL SELECT term, docid, wdf FROM deltap
),
bm AS (
  SELECT t.term,
         (ln(CASE WHEN (g.n - t.tf + 0.5) / (t.tf + 0.5) < 2
                  THEN (g.n - t.tf + 0.5) / (t.tf + 0.5) * 0.5 + 1
                  ELSE (g.n - t.tf + 0.5) / (t.tf + 0.5) END) * 2.0)
           AS termweight
  FROM tstat t, g
),
sp2 AS (
  SELECT p.docid,
         b.termweight * (p.wdf / (1.0 * (greatest(l.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + p.wdf)) AS sumpart
  FROM livepost p
  JOIN live_dl l ON l.docid = p.docid
  JOIN bm b ON b.term = p.term
  CROSS JOIN g
  WHERE p.term IN ('dup', 'table')
)
SELECT docid, score FROM (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp2 GROUP BY docid
) ORDER BY score DESC, docid LIMIT 10
"""
    # Multi-database interleave (backends/multi.h): combined stats equal
    # the single-database corpus stats exactly (tf/cf sums, same doclens),
    # so the oracle is the standard BM25 prelude with the reversible remap
    # docid -> (docid-1)*2 + shard + 1 applied before the final ordering.
    q["multidb_search"] = (
        _PRELUDE
        + """
, h AS (SELECT CAST(floor(count(*) / 2) AS BIGINT) AS half FROM documents)
SELECT CASE WHEN d0 <= h.half THEN 2 * d0 - 1
            ELSE 2 * (d0 - h.half) END AS docid,
       score
FROM (
  SELECT docid AS d0, round(sum(sumpart), 6) AS score FROM sp
  WHERE term IN ('dup', 'key') GROUP BY docid
) CROSS JOIN h
ORDER BY score DESC, docid LIMIT 10
"""
    )
    # Compaction identity: the two sources' renumber offsets (+0, +N/2)
    # restore the original docids, so the compacted warehouse must serve
    # exactly like a direct build over the whole corpus — the plain
    # prelude IS the oracle.
    q["compact_search"] = _topk_sql(_sum_terms(["merge", "slow"]))
    # General n-term PHRASE (phrasepostlist.cc:66-103): exists strictly
    # increasing positions p0 < p1 < p2, one per term in order, with span
    # p2 - p0 <= window-1 (greedy-minimal in the engine decides exactly
    # this existence).  Score = BM25 sum over the three terms.
    q["phrase3"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('table', 'scan', 'merge') AND docid IN ("
        "  SELECT a.docid FROM toks a"
        "  JOIN toks b ON b.docid = a.docid JOIN toks c ON c.docid = a.docid"
        "  WHERE a.term = 'table' AND b.term = 'scan' AND c.term = 'merge'"
        "  AND b.pos > a.pos AND c.pos > b.pos AND c.pos - a.pos <= 7)"
        "GROUP BY docid HAVING count(*) = 3"
    )
    # General n-term NEAR (nearpostlist.cc:75-160): distinct positions,
    # one per term, any order, span <= window-1.  With three DISTINCT
    # terms every position holds exactly one token, so distinctness is
    # automatic and the predicate is max-min <= 9.
    q["near3"] = _topk_sql(
        "SELECT docid, round(sum(sumpart), 6) AS score FROM sp "
        "WHERE term IN ('customer', 'table', 'join') AND docid IN ("
        "  SELECT a.docid FROM toks a"
        "  JOIN toks b ON b.docid = a.docid JOIN toks c ON c.docid = a.docid"
        "  WHERE a.term = 'customer' AND b.term = 'table' AND c.term = 'join'"
        "  AND greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) <= 9)"
        "GROUP BY docid HAVING count(*) = 3"
    )
    # TradEWeight expansion (tradeweight.cc:31-40, expandweight.h:50-72):
    # multiplier = sum over RSet docs of 2*max(wdf,1)/(doclen/avlen +
    # max(wdf,1)); tw = ln((r+0.5)(N-tf-(R-r)+0.5)/((tf-r+0.5)(R-r+0.5)));
    # RSet = docids 1..10, R = 10, expand_k = 1.  The index adds wdf=0
    # boolean field terms (S<source>, L<lang>) per doc, which Trad weights
    # too (wdf 0 -> 1) — replayed via the ft CTE.
    q["trad_eset"] = (
        _PRELUDE
        + """
, ft AS (
  SELECT doc_id + 1 AS docid, 'S' || lower(source) AS term, 0 AS wdf
  FROM documents
  UNION ALL
  SELECT doc_id + 1 AS docid, 'L' || lower(lang) AS term, 0 AS wdf
  FROM documents
),
allpost AS (
  SELECT term, docid, wdf FROM post
  UNION ALL SELECT term, docid, wdf FROM ft
),
alltf AS (SELECT term, count(*) AS tf FROM allpost GROUP BY term),
rmult AS (
  SELECT p.term,
         CAST(count(*) AS DOUBLE) AS r,
         sum(2.0 * greatest(p.wdf, 1)
             / (1.0 * l.doclen / (g.total / g.n) + greatest(p.wdf, 1)))
           AS multiplier
  FROM allpost p JOIN dl l ON l.docid = p.docid CROSS JOIN g
  WHERE p.docid BETWEEN 1 AND 10
  GROUP BY p.term
)
SELECT term, wt FROM (
  SELECT m.term,
    round(m.multiplier * ln((m.r + 0.5) * (g.n - t.tf - (10.0 - m.r) + 0.5)
          / ((t.tf - m.r + 0.5) * (10.0 - m.r + 0.5))), 6) AS wt,
    m.multiplier * ln((m.r + 0.5) * (g.n - t.tf - (10.0 - m.r) + 0.5)
          / ((t.tf - m.r + 0.5) * (10.0 - m.r + 0.5))) AS wt_raw
  FROM rmult m JOIN alltf t ON t.term = m.term CROSS JOIN g
) ORDER BY wt_raw DESC, term LIMIT 10
"""
    )
    # Chunking replay (ops/chunking.py, chunk_tokens=16 overlap=4 stride
    # 12): starts = 0,12,24,... while start <= n_tokens-1; chunk k covers
    # positions [start+1, start+16]; chunk_id = start/12 (exact — starts
    # are multiples of 12); text rebuilt with an ordered string_agg.
    q["chunk_documents"] = """
WITH toks AS (
  SELECT doc_id + 1 AS docid,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS pos
  FROM documents
),
n AS (SELECT docid, count(*) AS n FROM toks GROUP BY docid),
starts AS (
  SELECT docid, unnest(generate_series(0, CAST(n - 1 AS BIGINT), 12)) AS start
  FROM n WHERE n > 0
)
SELECT s.docid,
       CAST(s.start / 12 AS INT) AS chunk_id,
       CAST(count(*) AS INT) AS n_tokens,
       string_agg(t.term, ' ' ORDER BY t.pos) AS chunk_text
FROM starts s
JOIN toks t ON t.docid = s.docid
  AND t.pos >= s.start + 1 AND t.pos <= s.start + 16
GROUP BY s.docid, s.start
"""
    # Stratified hash sampling replay: thresholds = rate * 2^28 against
    # the md5-bucket of '42:'||docid — the exact Spark conv() equivalence
    # the fingerprint/simhash oracles already pin.
    q["stratified_sample"] = """
SELECT doc_id + 1 AS docid, lang FROM documents
WHERE ('0x' || substring(md5('42:' || CAST(doc_id + 1 AS VARCHAR)), 1, 7))::BIGINT
      < CASE lang WHEN 'en' THEN 134217728
                  WHEN 'fr' THEN 67108864
                  WHEN 'zh' THEN 26843545
                  ELSE 13421772 END
"""
    # PII scrub replay (ops/pii.py): deterministic augmentation, then
    # counts via regexp_extract_all and ordered class-tag redaction via
    # regexp_replace(..., 'g').  Patterns are the Java-regex∩RE2 subset,
    # so the literals below are byte-identical to the engine's.
    q["pii_redact"] = r"""
WITH aug AS (
  SELECT doc_id + 1 AS docid,
    text
    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 up' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call +1415555' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' or 415-555-0199' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' token sk-' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 20) ELSE '' END
    AS t
  FROM documents
),
r1 AS (
  SELECT docid, t,
    regexp_replace(
      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b(?:sk|pk|key|token)-[A-Za-z0-9]{16,}\b', '<SECRET>', 'g') AS t2
  FROM aug
),
c AS (
  SELECT docid,
    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
    CAST(len(regexp_extract_all(t2, '\+\d{7,15}\b'))
       + len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phones,
    CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
    CAST(len(regexp_extract_all(t, '\b(?:sk|pk|key|token)-[A-Za-z0-9]{16,}\b')) AS INT) AS n_secrets,
    regexp_replace(
      regexp_replace(
        regexp_replace(t2, '\+\d{7,15}\b', '<PHONE>', 'g'),
        '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text_redacted
  FROM r1
)
SELECT docid, n_emails, n_phones, n_ipv4, n_secrets,
       n_emails + n_phones + n_ipv4 + n_secrets AS n_pii,
       text_redacted
FROM c
"""
    # Decontamination replay (ops/decontam.py, n=8): benchmark = first 12
    # tokens of every 40th doc; distinct 8-gram windows per side; per-doc
    # overlap counts over a plain join.  Same inclusive list-slice shingle
    # construction the minhash oracle uses.
    q["decontaminate"] = """
WITH t AS (
  SELECT doc_id + 1 AS docid,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
bg AS (
  SELECT DISTINCT array_to_string((toks[1:12])[i:i+7], ' ') AS gram
  FROM t, unnest(range(1, len(toks[1:12]) - 6)) AS u(i)
  WHERE (docid - 1) % 40 = 0 AND len(toks[1:12]) >= 8
),
dg AS (
  SELECT DISTINCT docid, array_to_string(toks[i:i+7], ' ') AS gram
  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
  WHERE len(toks) >= 8
),
nn AS (SELECT docid, count(*) AS n_ngrams FROM dg GROUP BY docid),
h AS (
  SELECT dg.docid, count(*) AS n_hits
  FROM dg JOIN bg USING (gram) GROUP BY dg.docid
)
SELECT t.docid,
  CAST(coalesce(nn.n_ngrams, 0) AS INT) AS n_ngrams,
  CAST(coalesce(h.n_hits, 0) AS INT) AS n_contaminated,
  round(CASE WHEN coalesce(nn.n_ngrams, 0) = 0 THEN 0.0
             ELSE coalesce(h.n_hits, 0) * 1.0 / nn.n_ngrams END, 6)
    AS contamination_frac,
  CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
    AS contaminated
FROM t
LEFT JOIN nn ON nn.docid = t.docid
LEFT JOIN h ON h.docid = t.docid
"""
    # Repetition-stats replay (ops/repetition.py over 10-token lines):
    # lines are position groups (pos-1)//10 rebuilt with an ordered
    # string_agg; n-gram occurrence counts from inclusive list slices
    # (range(1, len-n+2) start positions); fractions per the module's
    # documented formulas, round(,6).
    q["repetition_stats"] = """
WITH t AS (
  SELECT doc_id + 1 AS docid,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id + 1 AS docid, unnest(toks0) AS term,
         generate_subscripts(toks0, 1) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks0
        FROM documents)
),
lines AS (
  SELECT docid, (pos - 1) // 10 AS li,
         string_agg(term, ' ' ORDER BY pos) AS line
  FROM tok GROUP BY docid, (pos - 1) // 10
),
linec AS (SELECT docid, line, count(*) AS c FROM lines GROUP BY docid, line),
lstats AS (
  SELECT docid, sum(c) AS n_lines, count(*) AS d_lines,
         sum(len(line) * c) AS chars, sum(len(line) * (c - 1)) AS dupchars
  FROM linec GROUP BY docid
),
g2c AS (
  SELECT docid, array_to_string(toks[i:i+1], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks))) AS u(i) GROUP BY docid, g
),
g2s AS (SELECT docid, max(c) AS max2 FROM g2c GROUP BY docid),
g3c AS (
  SELECT docid, array_to_string(toks[i:i+2], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i) GROUP BY docid, g
),
g3s AS (SELECT docid, max(c) AS max3 FROM g3c GROUP BY docid),
g4c AS (
  SELECT docid, array_to_string(toks[i:i+3], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks) - 2)) AS u(i) GROUP BY docid, g
),
g4s AS (SELECT docid, max(c) AS max4 FROM g4c GROUP BY docid),
g5c AS (
  SELECT docid, array_to_string(toks[i:i+4], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks) - 3)) AS u(i) GROUP BY docid, g
),
g5s AS (SELECT docid, sum(c) AS t5, count(*) AS d5 FROM g5c GROUP BY docid)
SELECT t.docid,
  CAST(len(t.toks) AS INT) AS n_tokens,
  CAST(coalesce(l.n_lines, 0) AS INT) AS n_lines,
  round(CASE WHEN coalesce(l.n_lines, 0) > 0
             THEN (l.n_lines - l.d_lines) * 1.0 / l.n_lines ELSE 0.0 END, 6)
    AS dup_line_frac,
  round(CASE WHEN coalesce(l.chars, 0) > 0
             THEN l.dupchars * 1.0 / l.chars ELSE 0.0 END, 6)
    AS dup_line_char_frac,
  round(CASE WHEN len(t.toks) > 0
             THEN coalesce(g2s.max2, 0) * 2.0 / len(t.toks) ELSE 0.0 END, 6)
    AS top_2gram_frac,
  round(CASE WHEN len(t.toks) > 0
             THEN coalesce(g3s.max3, 0) * 3.0 / len(t.toks) ELSE 0.0 END, 6)
    AS top_3gram_frac,
  round(CASE WHEN len(t.toks) > 0
             THEN coalesce(g4s.max4, 0) * 4.0 / len(t.toks) ELSE 0.0 END, 6)
    AS top_4gram_frac,
  round(CASE WHEN coalesce(g5s.t5, 0) > 0
             THEN (g5s.t5 - g5s.d5) * 1.0 / g5s.t5 ELSE 0.0 END, 6)
    AS dup_5gram_frac
FROM t
LEFT JOIN lstats l ON l.docid = t.docid
LEFT JOIN g2s ON g2s.docid = t.docid
LEFT JOIN g3s ON g3s.docid = t.docid
LEFT JOIN g4s ON g4s.docid = t.docid
LEFT JOIN g5s ON g5s.docid = t.docid
"""
    # Quality-filter replay (ops/filtering.py defaults over raw text):
    # signals from the quality_scores / repetition_stats replays, then the
    # ordered rule cascade.  Rule comparisons mirror the engine exactly:
    # mean/stopword UNROUNDED, top2/dup5 ROUNDED (repetition_stats
    # publishes rounded values).
    q["quality_filter"] = """
WITH t AS (
  SELECT doc_id + 1 AS docid,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id + 1 AS docid, unnest(toks0) AS term
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks0
        FROM documents)
),
qs AS (
  SELECT docid, count(*) AS n_tokens,
         sum(len(term)) * 1.0 / count(*) AS mean_len,
         sum(CASE WHEN term IN ('the','and','of','to','is','in','that',
                                'it','for','was') THEN 1 ELSE 0 END)
           * 1.0 / count(*) AS sw_ratio
  FROM tok GROUP BY docid
),
g2c AS (
  SELECT docid, array_to_string(toks[i:i+1], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks))) AS u(i) GROUP BY docid, g
),
g2s AS (SELECT docid, max(c) AS max2 FROM g2c GROUP BY docid),
g5c AS (
  SELECT docid, array_to_string(toks[i:i+4], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks) - 3)) AS u(i) GROUP BY docid, g
),
g5s AS (SELECT docid, sum(c) AS t5, count(*) AS d5 FROM g5c GROUP BY docid),
sig AS (
  SELECT t.docid,
    coalesce(q.n_tokens, 0) AS n_tokens,
    coalesce(q.mean_len, 0.0) AS mean_len,
    coalesce(q.sw_ratio, 0.0) AS sw_ratio,
    round(CASE WHEN coalesce(q.n_tokens, 0) > 0
               THEN coalesce(g2s.max2, 0) * 2.0 / q.n_tokens
               ELSE 0.0 END, 6) AS top2,
    round(CASE WHEN coalesce(g5s.t5, 0) > 0
               THEN (g5s.t5 - g5s.d5) * 1.0 / g5s.t5 ELSE 0.0 END, 6) AS dup5
  FROM t
  LEFT JOIN qs q ON q.docid = t.docid
  LEFT JOIN g2s ON g2s.docid = t.docid
  LEFT JOIN g5s ON g5s.docid = t.docid
),
v AS (
  SELECT docid, n_tokens, mean_len, sw_ratio, top2, dup5,
    CASE WHEN n_tokens < 30 THEN 'too_short'
         WHEN n_tokens > 5000 THEN 'too_long'
         WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_token_len'
         WHEN sw_ratio < 0.01 THEN 'no_stopwords'
         WHEN top2 > 0.18 THEN 'repetitive_2gram'
         WHEN dup5 > 0.30 THEN 'repetitive_5gram'
         ELSE 'keep' END AS reject_reason
  FROM sig
)
SELECT docid,
  CAST(n_tokens AS INT) AS n_tokens,
  round(mean_len, 6) AS mean_token_len,
  round(sw_ratio, 6) AS stopword_ratio,
  top2 AS top_2gram_frac,
  dup5 AS dup_5gram_frac,
  CAST(CASE WHEN reject_reason = 'keep' THEN 1 ELSE 0 END AS INT) AS keep,
  reject_reason
FROM v
"""
    q["mmr_rerank"] = _PRELUDE + _mmr_oracle_sql(k=5)
    # Hashed TF-IDF replay (ops/vectorize.py, dim=32 signed): md5 bucket
    # and sign hashes via the proven '0x'-cast construction; smoothed idf
    # ln((N+1)/(df+1)); weight rounded to 6dp, zero rows dropped.
    q["hashed_tfidf"] = """
WITH tok AS (
  SELECT doc_id + 1 AS id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
),
post AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term),
dfv AS (SELECT term, count(*) AS df FROM post GROUP BY term),
n AS (SELECT count(*) AS c FROM documents)
SELECT id AS docid, bucket, weight FROM (
  SELECT p.id,
    CAST((('0x' || substring(md5('b|' || p.term), 1, 7))::BIGINT % 268435456) % 32 AS INT) AS bucket,
    round(sum(
      (CASE WHEN (('0x' || substring(md5('s|' || p.term), 1, 7))::BIGINT % 268435456) % 2 = 0
            THEN 1.0 ELSE -1.0 END)
      * p.tf * ln((n.c + 1.0) / (d.df + 1))
    ), 6) AS weight
  FROM post p JOIN dfv d USING (term) CROSS JOIN n
  GROUP BY p.id, bucket
) WHERE weight <> 0.0
"""
    # Mix-report replay: aggregate the quality_filter replay by lang.
    q["mix_report"] = (
        "WITH qf AS (" + q["quality_filter"] + ")\n"
        """SELECT d.lang AS stratum,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(q.keep) AS BIGINT) AS n_kept,
  round(sum(q.keep) * 1.0 / count(*), 6) AS kept_frac,
  CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(q.n_tokens * q.keep) AS BIGINT) AS kept_tokens,
  round(avg(q.n_tokens), 6) AS mean_tokens
FROM qf q JOIN documents d ON d.doc_id + 1 = q.docid
GROUP BY d.lang
"""
    )
    # Multi-word synonym group (parser walk "dup vector" -> OP_SYNONYM over
    # {dup, vector} + synonym key): scored as one pseudo-term over the
    # UNION stats exactly like synonym_op, with the synonym term 'key'
    # joining the union (Synonym flattens to its leaf terms in the
    # planner, query/planner.py Synonym eval).
    q["multiword_synonym_search"] = (
        _PRELUDE
        + """
, sdocs AS (
  SELECT p.docid, least(sum(p.wdf), max(l.doclen)) AS wdf, max(l.doclen) AS doclen
  FROM post p JOIN dl l ON l.docid = p.docid
  WHERE p.term IN ('dup', 'vector', 'key') GROUP BY p.docid
),
stf AS (SELECT count(*) AS tf FROM sdocs)
SELECT docid, score FROM (
  SELECT d.docid,
    round((ln(CASE WHEN (g.n - s.tf + 0.5) / (s.tf + 0.5) < 2
              THEN (g.n - s.tf + 0.5) / (s.tf + 0.5) * 0.5 + 1
              ELSE (g.n - s.tf + 0.5) / (s.tf + 0.5) END) * 2.0)
      * (d.wdf / (1.0 * (greatest(d.doclen * (1.0 / (g.total / g.n)), 0.5) * 0.5 + 0.5) + d.wdf)), 6) AS score
  FROM sdocs d, stf s, g
) ORDER BY score DESC, docid LIMIT 10
"""
    )
    # Pipeline composition replay: each stage's per-doc verdict is
    # independent of which docs remain upstream (dedup canonicals are
    # min-docid over the full corpus = over any earlier stage's output;
    # contamination / quality / sampling are pure per-doc predicates and
    # the benchmark set is defined from the FULL corpus), so the chain is
    # equivalent to AND-ing the four predicates, then aggregating the mix
    # over the survivors.  kept_frac is 1.0 by construction (stage 3
    # already filtered on keep).
    q["pipeline_compose"] = """
WITH t AS (
  SELECT doc_id + 1 AS docid, lang,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
canon AS (
  SELECT docid FROM (
    SELECT docid,
           row_number() OVER (
             PARTITION BY sha256(array_to_string(toks, ' '))
             ORDER BY docid) AS rn
    FROM t
  ) WHERE rn = 1
),
bg AS (
  SELECT DISTINCT array_to_string((toks[1:12])[i:i+7], ' ') AS gram
  FROM t, unnest(range(1, len(toks[1:12]) - 6)) AS u(i)
  WHERE (docid - 1) % 40 = 0 AND len(toks[1:12]) >= 8
),
contam AS (
  SELECT DISTINCT dg.docid
  FROM (
    SELECT DISTINCT docid, array_to_string(toks[i:i+7], ' ') AS gram
    FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
    WHERE len(toks) >= 8
  ) dg JOIN bg USING (gram)
),
tok AS (SELECT docid, unnest(toks) AS term FROM t),
qs AS (
  SELECT docid, count(*) AS n_tokens,
         sum(len(term)) * 1.0 / count(*) AS mean_len,
         sum(CASE WHEN term IN ('the','and','of','to','is','in','that',
                                'it','for','was') THEN 1 ELSE 0 END)
           * 1.0 / count(*) AS sw_ratio
  FROM tok GROUP BY docid
),
g2c AS (
  SELECT docid, array_to_string(toks[i:i+1], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks))) AS u(i) GROUP BY docid, g
),
g2s AS (SELECT docid, max(c) AS max2 FROM g2c GROUP BY docid),
g5c AS (
  SELECT docid, array_to_string(toks[i:i+4], ' ') AS g, count(*) AS c
  FROM t, unnest(range(1, len(toks) - 3)) AS u(i) GROUP BY docid, g
),
g5s AS (SELECT docid, sum(c) AS t5, count(*) AS d5 FROM g5c GROUP BY docid),
sig AS (
  SELECT t.docid,
    coalesce(q.n_tokens, 0) AS n_tokens,
    coalesce(q.mean_len, 0.0) AS mean_len,
    coalesce(q.sw_ratio, 0.0) AS sw_ratio,
    round(CASE WHEN coalesce(q.n_tokens, 0) > 0
               THEN coalesce(g2s.max2, 0) * 2.0 / q.n_tokens
               ELSE 0.0 END, 6) AS top2,
    round(CASE WHEN coalesce(g5s.t5, 0) > 0
               THEN (g5s.t5 - g5s.d5) * 1.0 / g5s.t5 ELSE 0.0 END, 6) AS dup5
  FROM t
  LEFT JOIN qs q ON q.docid = t.docid
  LEFT JOIN g2s ON g2s.docid = t.docid
  LEFT JOIN g5s ON g5s.docid = t.docid
),
keepv AS (
  SELECT docid, n_tokens FROM sig
  WHERE NOT (n_tokens < 30 OR n_tokens > 5000
             OR mean_len < 3.0 OR mean_len > 10.0
             OR sw_ratio < 0.01 OR top2 > 0.18 OR dup5 > 0.30)
),
surv AS (
  SELECT t.docid, t.lang, k.n_tokens
  FROM t
  JOIN canon USING (docid)
  JOIN keepv k ON k.docid = t.docid
  LEFT JOIN contam c ON c.docid = t.docid
  WHERE c.docid IS NULL
    AND ('0x' || substring(md5('42:' || CAST(t.docid AS VARCHAR)), 1, 7))::BIGINT
        < CASE t.lang WHEN 'en' THEN 134217728
                      WHEN 'fr' THEN 67108864
                      WHEN 'zh' THEN 26843545
                      ELSE 13421772 END
)
SELECT lang AS stratum,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_kept,
  round(count(*) * 1.0 / count(*), 6) AS kept_frac,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
  round(avg(n_tokens), 6) AS mean_tokens
FROM surv
GROUP BY lang
"""
    return q


def _mmr_oracle_sql(k: int = 5) -> str:
    """Replays ops.diversify.mmr_select at lambda=0.5 over the BM25
    top-10 'dup' MSet as k chained greedy-round CTEs.  sim uses the
    engine's exact operation order dot/(sqrt(aa)*sqrt(bb)); objective
    0.5*score - 0.5*max_sim; ties by original rank."""
    parts = [
        """
, m AS (
  SELECT docid, round(sum(sumpart), 6) AS score FROM sp WHERE term = 'dup'
  GROUP BY docid ORDER BY score DESC, docid LIMIT 10
),
r0 AS (
  -- LEFT JOIN mirrors mmr_select's tolerant vector fetch: a top-k doc
  -- with no embedding row keeps v NULL, and every sim involving it takes
  -- the ELSE 0.0 branch below (a NULL dot product is never > 0) — i.e.
  -- exactly the engine's zero-vector, relevance-only fallback
  -- (ops/diversify.py mmr_select).
  SELECT m.docid, m.score,
         row_number() OVER (ORDER BY m.score DESC, m.docid) AS rnk,
         CAST(e.embedding AS DOUBLE[]) AS v
  FROM m LEFT JOIN embeddings e ON e.vec_id + 1 = m.docid
),
ps AS (
  SELECT a.docid AS a, b.docid AS b,
    CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
      THEN list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      ELSE 0.0 END AS sim
  FROM r0 a JOIN r0 b ON a.docid <> b.docid
),
s1 AS (SELECT docid FROM r0 WHERE rnk = 1)"""
    ]
    sel = "SELECT docid FROM s1"
    for i in range(2, k + 1):
        parts.append(
            f""",
sel{i - 1} AS ({sel}),
o{i} AS (
  SELECT r.docid,
         row_number() OVER (
           ORDER BY 0.5 * r.score - 0.5 * ms.m DESC, r.rnk ASC) AS pick
  FROM r0 r
  JOIN (SELECT p.b AS docid, max(p.sim) AS m FROM ps p
        WHERE p.a IN (SELECT docid FROM sel{i - 1}) GROUP BY p.b) ms
    ON ms.docid = r.docid
  WHERE r.docid NOT IN (SELECT docid FROM sel{i - 1})
),
s{i} AS (SELECT docid FROM o{i} WHERE pick = 1)"""
        )
        sel += f" UNION ALL SELECT docid FROM s{i}"
    ranks = " UNION ALL ".join(
        f"SELECT docid, {i} AS r FROM s{i}" for i in range(1, k + 1)
    )
    parts.append(
        f"""
SELECT r.docid, r.score, CAST(x.r AS INT) AS mmr_rank
FROM ({ranks}) x JOIN r0 r ON r.docid = x.docid
"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Oracles for the "approximate" dedup/ANN operators.  Every one of these
# pipelines is DETERMINISTIC (md5/sha256 hashing, seeded hyperplanes), so
# the DuckDB twin replays the exact algorithm — candidate generation
# included — and the driver can value-hash them like any exact query.
#
# Coupling note: the two hyperplane oracles embed 64-dim plane literals,
# matching the driver testdata's embeddings schema (verified 64-dim at
# sf0.001/0.01/0.1).  The library itself infers dim from data; only these
# oracle strings are schema-bound, like every other oracle here is bound
# to the documents/embeddings column layout.
# ---------------------------------------------------------------------------


def _minhash_lsh_oracle_sql(num_hashes: int = 32, bands: int = 8) -> str:
    """Replays ops.dedup.minhash_lsh_pairs: distinct 3-token shingles,
    h_i = min(md5('i|'||shingle)), 8 bands x 4 rows bucketed by sha256,
    banding-candidate pairs, est = agreeing-slot fraction, exact-Jaccard
    verify at >= 0.5 on candidates only."""
    r = num_hashes // bands
    mins = ",\n    ".join(
        f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, sha256({cat}) AS bucket FROM sig".format(
            b=b, cat=" || '|' || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3
),
sig AS (
  SELECT id,
    {mins}
  FROM sh GROUP BY id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.id < b.id
),
est AS (
  SELECT c.id_a, c.id_b,
    ({agree}) / {float(num_hashes)} AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.id = c.id_a
  JOIN sig sb ON sb.id = c.id_b
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT e.id_a, e.id_b, count(*) AS inter
  FROM est e
  JOIN sh a ON a.id = e.id_a
  JOIN sh b ON b.id = e.id_b AND b.shingle = a.shingle
  GROUP BY e.id_a, e.id_b
)
SELECT e.id_a, e.id_b, round(e.est_jaccard, 6) AS est_jaccard,
       round(i.inter / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM est e
JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN sizes sa ON sa.id = e.id_a
JOIN sizes sb ON sb.id = e.id_b
WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.5
"""


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Replays ops.dedup.simhash_near_pairs: 60-bit md5-derived per-token
    hash, wdf-weighted bit votes, 4 x 15-bit chunk blocking, exact
    popcount verify at Hamming <= 3."""
    votes = ",\n    ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN wdf ELSE -wdf END) AS v{b}"
        for b in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(60)
    )
    return f"""
WITH tok AS (
  SELECT id, tok, count(*) AS wdf FROM (
    SELECT doc_id AS id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
    FROM documents
  ) GROUP BY id, tok
),
th AS (
  SELECT id, wdf, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM tok
),
votes AS (
  SELECT id,
    {votes}
  FROM th GROUP BY id
),
fp AS (
  SELECT id, {fp} AS simhash FROM votes
),
chunks AS (
  SELECT id, simhash, c.chunk, (simhash >> (c.chunk * 15)) & 32767 AS val
  FROM fp, (VALUES (0), (1), (2), (3)) AS c(chunk)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS fa, b.simhash AS fb
  FROM chunks a JOIN chunks b USING (chunk, val)
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


def _plane_literal(row) -> str:
    return "[" + ", ".join(repr(float(x)) for x in row) + "]"


_COS_SQL = (
    "CASE WHEN sqrt(list_dot_product({a}, {a})) > 0 "
    "AND sqrt(list_dot_product({b}, {b})) > 0 "
    "THEN list_dot_product({b}, {a}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
    "ELSE 0.0 END"
)


def _lsh_topk_oracle_sql(
    n_planes: int = 5, n_tables: int = 4, seed: int = 42, k: int = 5
) -> str:
    """Replays ops.similarity.lsh_cosine_topk with the entry's explicit
    params: per-table seeded hyperplane sign bits; multiprobe=1 means a
    (query, vector) pair is a candidate iff some table's signatures differ
    in <= 1 bit; exact cosine re-rank, top-k."""
    from xapian_spark.ops.similarity import _hyperplanes

    bit_cols = []
    for t in range(n_tables):
        planes = _hyperplanes(64, n_planes, seed=seed + 1000 * t)
        for b, row in enumerate(planes):
            bit_cols.append(
                f"(CASE WHEN list_dot_product(e, {_plane_literal(row)}) >= 0 "
                f"THEN 1 ELSE 0 END) AS t{t}b{b}"
            )
    sig_cols = ",\n    ".join(bit_cols)
    table_conds = " OR ".join(
        "("
        + " + ".join(
            f"abs(a.t{t}b{b} - q.t{t}b{b})" for b in range(n_planes)
        )
        + ") <= 1"
        for t in range(n_tables)
    )
    cos = _COS_SQL.format(a="qe", b="ae")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
    {sig_cols}
  FROM v
),
p AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, q.e AS qe, a.e AS ae
  FROM s a CROSS JOIN (SELECT * FROM s WHERE vec_id < 5) q
  WHERE a.vec_id <> q.vec_id AND ({table_conds})
),
c AS (
  SELECT query_id, neighbor_id, {cos} AS cosine FROM p
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS nn_rank
  FROM c
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, nn_rank
FROM r WHERE nn_rank <= {k}
"""


def _near_dup_oracle_sql(
    n_planes: int = 4, n_tables: int = 8, seed: int = 7, threshold: float = 0.4
) -> str:
    """Replays ops.similarity.embedding_near_dup_pairs with the entry's
    params: exact-bucket blocking (all n_planes bits equal in some table),
    exact cosine verify at >= threshold."""
    from xapian_spark.ops.similarity import _hyperplanes

    bit_cols = []
    for t in range(n_tables):
        planes = _hyperplanes(64, n_planes, seed=seed + 31 * t)
        for b, row in enumerate(planes):
            bit_cols.append(
                f"(CASE WHEN list_dot_product(e, {_plane_literal(row)}) >= 0 "
                f"THEN 1 ELSE 0 END) AS t{t}b{b}"
            )
    sig_cols = ",\n    ".join(bit_cols)
    table_conds = " OR ".join(
        "("
        + " AND ".join(
            f"a.t{t}b{b} = b.t{t}b{b}" for b in range(n_planes)
        )
        + ")"
        for t in range(n_tables)
    )
    cos = _COS_SQL.format(a="ea", b="eb")
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
    {sig_cols}
  FROM v
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
  FROM s a JOIN s b ON a.vec_id < b.vec_id AND ({table_conds})
),
c AS (
  SELECT id_a, id_b, {cos} AS cosine FROM p
)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM c WHERE cosine >= {threshold}
"""
