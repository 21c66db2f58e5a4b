"""Query an index warehouse: the spark-submit twin of examples/quest.cc.

    spark-submit --py-files xapian_spark.zip scripts/query.py \
        --index /data/index --query "error AND handling" -k 10

--engine planner evaluates each query's full boolean/positional AST;
--engine wand serves all the --query strings as one free-text OR batch
through block-max WAND (Planner.search_batch_or, use_wand=True), and
each query's elapsed_sec is that whole batch's time.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True, action="append",
                    help="repeatable; multiple queries run as one batch")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--engine", default="planner",
                    choices=["planner", "wand"])
    ap.add_argument("--weight", default="bm25")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("xapian-spark-query").getOrCreate()
    from xapian_spark.index import merge
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.query.planner import Planner
    from xapian_spark.ranking.weights import WEIGHT_SCHEMES

    idx = merge.read_warehouse(spark, args.index)
    planner = Planner(idx, WEIGHT_SCHEMES[args.weight]())
    parser = QueryParser()
    results = []  # (query, elapsed_sec, rows)
    if args.engine == "wand":
        batch = {
            str(i): [t.term for t in parser.parse_free_text(qstr)]
            for i, qstr in enumerate(args.query)
        }
        t0 = time.perf_counter()
        rows = (
            planner.search_batch_or(batch, k=args.k, use_wand=True)
            .orderBy("query", "rank").collect()
        )
        elapsed = time.perf_counter() - t0
        for i, qstr in enumerate(args.query):
            results.append(
                (qstr, elapsed, [r for r in rows if r["query"] == str(i)])
            )
    else:
        for qstr in args.query:
            t0 = time.perf_counter()
            res = planner.search(parser.parse_query(qstr), k=args.k).collect()
            results.append((qstr, time.perf_counter() - t0, res))
    out = [
        {
            "query": qstr,
            "elapsed_sec": round(elapsed, 4),
            "hits": [
                {"docid": r["docid"], "score": round(r["score"], 6)}
                for r in res
            ],
        }
        for qstr, elapsed, res in results
    ]
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
