"""End-to-end test of the spark-submit CLI surface (scripts/build_index.py
+ scripts/query.py) — the north rule's launch path.  Runs them as real
subprocesses (each bootstraps its own SparkSession, exactly what
spark-submit does with --py-files), then cross-checks the CLI's hits
against the in-process Planner on the same warehouse.

Reference analogue: examples/simpleindex.cc + examples/quest.cc driven as
binaries by the reference's own test harness.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _run(args):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, *args], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # stdout is the report JSON (last non-empty line; Spark may log above)
    payload = [ln for ln in out.stdout.strip().splitlines() if ln.strip()]
    return json.loads("\n".join(payload))


@pytest.fixture(scope="module")
def cli_warehouse(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "idx")
    report = _run([
        "scripts/build_index.py",
        "--input", f"{SF}/documents.parquet",
        "--output", path,
        "--content-col", "text",
        "--order-cols", "doc_id",
        "--n-ranges", "4",
        "--verify",
    ])
    assert report["complete"] is True
    assert report["docs"] > 0
    # verify_invariants returns mismatch COUNTS — all must be zero
    assert all(v == 0 for v in report["invariants"].values()), report
    return path


def test_cli_build_and_query(spark, cli_warehouse):
    res = _run([
        "scripts/query.py",
        "--index", cli_warehouse,
        "--query", "dup vector",
        "-k", "5",
    ])
    (q,) = res
    assert q["query"] == "dup vector"
    assert len(q["hits"]) == 5

    # the CLI's hits must equal the in-process Planner on the same warehouse
    from xapian_spark.index import merge
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.query.planner import Planner

    idx = merge.read_warehouse(spark, cli_warehouse)
    node = QueryParser().parse_query("dup vector")
    want = Planner(idx).search(node, k=5).collect()
    assert [(h["docid"], h["score"]) for h in q["hits"]] == [
        (r["docid"], round(r["score"], 6)) for r in want
    ]


def test_cli_query_wand_engine_agrees(cli_warehouse):
    """--engine wand serves the --query strings as one batched block-max
    WAND call; each query's hits equal the planner's."""
    queries = ["--query", "dup vector", "--query", "scan key line"]
    res = _run([
        "scripts/query.py", "--index", cli_warehouse, *queries,
        "-k", "5", "--engine", "wand",
    ])
    res2 = _run([
        "scripts/query.py", "--index", cli_warehouse, *queries,
        "-k", "5", "--engine", "planner",
    ])
    assert [q["query"] for q in res] == ["dup vector", "scan key line"]
    assert res[0]["hits"] and res[1]["hits"]
    assert [q["hits"] for q in res] == [q["hits"] for q in res2]


def test_cli_delve(cli_warehouse):
    """scripts/delve.py — the xapian-delve twin: stats header, term
    postings, record termlist, metadata/check modes run clean."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "scripts/delve.py",
         "--index", cli_warehouse, "-t", "dup", "--check"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "number of documents = " in out.stdout
    assert "term 'dup': termfreq " in out.stdout
    assert '"term_stats_mismatches": 0' in out.stdout
    out2 = subprocess.run(
        [sys.executable, "scripts/delve.py",
         "--index", cli_warehouse, "-r", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    assert "Record #1:" in out2.stdout and "Term List:" in out2.stdout


def test_make_pyfiles_deterministic_and_importable(tmp_path):
    """scripts/make_pyfiles.py — the --py-files artifact: identical bytes
    across rebuilds (reproducible distribution to executors) and the
    package must import from the zip alone, which is exactly how
    spark-submit --py-files exposes it on executor sys.path."""
    z1 = str(tmp_path / "a.zip")
    z2 = str(tmp_path / "b.zip")
    r1 = _run(["scripts/make_pyfiles.py", "--out", z1])
    r2 = _run(["scripts/make_pyfiles.py", "--out", z2])
    assert r1["files"] == r2["files"] > 20
    assert r1["sha256"] == r2["sha256"]
    assert open(z1, "rb").read() == open(z2, "rb").read()
    # import from the zip with the repo itself OFF sys.path
    probe = (
        "import sys; sys.path.insert(0, %r); "
        "from xapian_spark.text.stem import stem_en; "
        "print(stem_en('connections'))" % z1
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=str(tmp_path),
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "connect"


def test_spark_submit_pyfiles_launch(tmp_path):
    """The north rule's literal launch posture, end-to-end: spark-submit
    --py-files xapian_spark.zip scripts/build_index.py.  The job script is
    staged OUTSIDE the repo and PYTHONPATH is scrubbed, so every
    xapian_spark import inside the submitted job must resolve from the zip
    alone — the condition a real multi-executor cluster imposes.  Builds a
    complete warehouse from the sf0.001 corpus through the deployed
    artifact (tools/scaling_submit.py runs the same posture at measurement
    scale)."""
    import shutil

    from scripts.make_pyfiles import build_zip

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
    )
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on PATH")
    zip_path = str(tmp_path / "xapian_spark.zip")
    build_zip(zip_path)
    staged = str(tmp_path / "build_index.py")
    shutil.copyfile(os.path.join(REPO, "scripts", "build_index.py"), staged)
    out_dir = str(tmp_path / "wh")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            staged,
            "--input", f"{SF}/documents.parquet",
            "--output", out_dir,
            "--content-col", "text",
            "--order-cols", "doc_id",
            "--n-ranges", "2",
        ],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = None
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            report = json.loads(line)
            break
        except json.JSONDecodeError:
            continue
    assert report is not None, proc.stdout[-2000:]
    assert report["complete"] is True
    assert report["docs"] == 500
    # the warehouse the deployed artifact wrote is a real, queryable one
    assert os.path.isdir(os.path.join(out_dir, "blocked"))
    # serving through the same posture: scripts/serve_batch.py (the
    # scaling_run query phase's spark-submit twin) over that warehouse
    staged_serve = str(tmp_path / "serve_batch.py")
    shutil.copyfile(
        os.path.join(REPO, "scripts", "serve_batch.py"), staged_serve
    )
    proc2 = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            staged_serve,
            "--index", out_dir,
            "--nq", "10",
            "--trials", "2",
        ],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420,
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    qreport = None
    for line in reversed(proc2.stdout.strip().splitlines()):
        try:
            qreport = json.loads(line)
            break
        except json.JSONDecodeError:
            continue
    assert qreport is not None, proc2.stdout[-2000:]
    assert qreport["complete"] is True and qreport["nq"] == 10
    assert len(qreport["query_secs_all"]) == 2
    assert qreport["qps"] > 0
