"""Plan-quality gate over every driver query: the physical plans Spark
actually chooses must stay scale-shaped.

Two pathologies are banned outright:

- `CartesianProduct` — a shuffle cross-join; at 100 TB any docs x docs
  (or vectors x vectors) cross appearing in a plan is a design
  regression.  Broadcast nested-loop joins are allowed (small side by
  construction, e.g. ANN query batches) — the check targets the shuffle
  variant specifically.
- `BatchEvalPython` — a row-at-a-time Python UDF node.  Python in this
  engine is Arrow-batched only (`ArrowEvalPython` / `MapInArrow` /
  `FlatMapGroupsInPandas`), and only off the hot scoring path.

A third check pins the single-query planner's plan shape over a
warehouse index: exactly one Exchange, the groupBy(docid) of the postings
scan, for each boolean shape.

Runs at sf0.001 so index construction inside the entries is cheap; the
assertion reads the executed plan string, catching regressions the
row-level correctness gate cannot (a correct-but-cartesian plan passes
check_entry and melts at scale).
"""

from __future__ import annotations

import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.001"

_NAMES = sorted(E.queries())


@pytest.mark.parametrize("name", _NAMES)
def test_plan_has_no_pathologies(spark, name):
    df = E.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan, (
        f"{name}: shuffle cartesian product in physical plan"
    )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in physical plan"
    )


@pytest.fixture(scope="module")
def wh_planner(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from xapian_spark.index import merge
    from xapian_spark.query.planner import Planner

    corpus = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "docid", (F.col("doc_id") + 1).cast("long")
    )
    path = str(tmp_path_factory.mktemp("plans_wh") / "index")
    merge.build_warehouse(
        spark, corpus, path, content_col="text", docid_col="docid",
        n_ranges=2, block_size=16,
    )
    return Planner(merge.read_warehouse(spark, path))


def _shapes():
    from xapian_spark.query import ast

    a, b = ast.Term("dup"), ast.Term("vector")
    return {
        "or": ast.Or((a, b)),
        "and": ast.And((a, b)),
        "and_not": ast.AndNot(a, b),
        "filter": ast.Filter(a, b),
        "synonym": ast.Synonym((a, b)),
    }


@pytest.mark.parametrize("shape", sorted(_shapes()))
def test_single_query_plan_has_one_exchange(wh_planner, shape):
    """The single-query planner over a warehouse index (planner.py module
    docstring: every operator is a column expression over one per-doc term
    map) plans exactly one Exchange, the groupBy(docid) of the postings
    scan: no join, no broadcast, no second shuffle."""
    df = wh_planner.search(_shapes()[shape], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\b(\w*Exchange) ", plan) == ["Exchange"], plan
    assert "Exchange hashpartitioning(docid" in plan, plan
