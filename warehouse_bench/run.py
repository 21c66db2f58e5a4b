"""Warehouse benchmark: a seeded code corpus goes through build_warehouse,
read_warehouse, single queries, batch OR serving on both paths, and a
delete/replace commit; every answer is checked against model.py.

    python3 warehouse_bench/run.py --workload serve_selective --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root.  The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1.  A traced run also
writes its spans, per-span Spark accounting and its own end-to-end figures
to .bench_traces/<workload>-s<seed>.json.  README.md describes the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

import corpus  # noqa: E402
from model import Model, compare_topk, same_ranking  # noqa: E402
from spans import Tracer, attribute, read_event_log, totals  # noqa: E402

NDOCS = 20_000
WARMUP_DOCS = 1_000
K = 10
N_UPDATE = 10        # documents deleted, and documents replaced, per run
MAX_SINGLES = 200    # query pools are cut from seeded sets of this size
SINGLE_SHARE = 0.45  # of --seconds for single queries, the rest for batches
MAX_PAIRS = 8        # most (rows, wand) batch pairs one run can use
WARM_PAIRS = 2       # untimed batch pairs before the timed ones
WARM_SMALL = 20      # queries in the first of them

# The single-query shape and batch class of each workload (README.md).
WORKLOADS = {
    "serve_selective": {"single": "free_text", "batch_size": 250,
                        "warm_singles": 3},
    "serve_hot": {"single": "phrase", "batch_size": 100,
                  "warm_singles": 8},
}


def process_start_epoch() -> float:
    """Wall-clock time this process started (Linux /proc), so setup_s
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def data_bytes(path: str) -> int:
    """Bytes of parquet data files under `path` (no _meta, .crc or markers)."""
    n = 0
    for d, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(d, f))
                 for f in files if f.endswith(".parquet"))
    return n


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = work
        self.tr = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, err: str | None, what: str) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if err is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {err}")

    def level(self) -> None:
        """Level both heaps before a timed phase."""
        gc.collect()
        self.jvm.System.gc()

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    # -- session --------------------------------------------------------------

    def start_spark(self):
        from xapian_spark.session import get_spark

        n = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "sql"),
            # keep every file the JVM writes inside the work directory
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("warehouse-bench", master=f"local[{n}]",
                          shuffle_partitions=n, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- the run --------------------------------------------------------------

    def run(self) -> dict:
        t_proc = process_start_epoch()
        a = self.args
        c = corpus.generate(a.seed, NDOCS)
        m = Model(c)
        src = os.path.join(self.work, "docs.parquet")
        src_bytes = corpus.write_parquet(c, a.seed, src)

        with self.tr.span("session.start"):
            t0 = time.perf_counter()
            self.spark = spark = self.start_spark()
            session_s = time.perf_counter() - t0
        self.tr.sc = spark.sparkContext
        self.jvm = spark.sparkContext._jvm
        jvm_pid = self.jvm.ProcessHandle.current().pid()
        try:
            return self._run(spark, c, m, src, src_bytes, t_proc,
                             session_s, jvm_pid)
        finally:
            self.stop_spark()

    def _run(self, spark, c, m, src, src_bytes, t_proc, session_s,
             jvm_pid) -> dict:
        from xapian_spark.index import merge
        from xapian_spark.query.parser import QueryParser
        from xapian_spark.query.planner import Planner
        from xapian_spark.ranking.weights import BM25Weight

        a, cfg, tr = self.args, self.cfg, self.tr
        wh = os.path.join(self.work, "wh")

        # -- ingest: a small untimed warm-up build absorbs the first-build
        # costs of a fresh JVM (JIT, Python workers); then the measured build
        warm_src = os.path.join(self.work, "warm.parquet")
        warm_wh = os.path.join(self.work, "warm_wh")
        corpus.write_parquet(corpus.generate(a.seed + 1, WARMUP_DOCS),
                             a.seed + 1, warm_src)
        with tr.span("merge.build_warehouse.warmup", tag=True):
            merge.build_warehouse(spark, spark.read.parquet(warm_src), warm_wh)
        # freeing written-back blocks is slow on some filesystems; these are
        # still fresh, so drop them now rather than at exit
        shutil.rmtree(warm_wh)
        os.remove(warm_src)
        self.level()
        t0 = time.perf_counter()
        with tr.span("merge.build_warehouse", tag=True) as s_build:
            merge.build_warehouse(spark, spark.read.parquet(src), wh)
        build_s = time.perf_counter() - t0
        os.remove(src)  # the warehouse keeps its own copy of the rows
        with tr.span("merge.read_warehouse", tag=True) as s_open:
            idx = merge.read_warehouse(spark, wh)
        self.check_ingest(idx, c, m)
        index_bytes = data_bytes(wh)

        # -- query sets: disjoint warm-up and timed sets of each class -------
        rng = np.random.default_rng([a.seed, 0x9E7])
        bs = cfg["batch_size"]
        if cfg["single"] == "free_text":
            # one shape per latency metric: every single query is an anchor
            # plus two hot terms; batch queries alternate anchor + 1 and + 2
            n_batched = bs * (MAX_PAIRS + WARM_PAIRS)
            sel = corpus.selective_queries(
                m, rng, [2] * MAX_SINGLES + [1, 2] * (n_batched // 2))
            singles = sel[:MAX_SINGLES]
            batches = [sel[MAX_SINGLES + i * bs:MAX_SINGLES + (i + 1) * bs]
                       for i in range(MAX_PAIRS + WARM_PAIRS)]
        else:
            singles = corpus.hot_phrases(m, rng, MAX_SINGLES)
            batches = [corpus.hot_queries(m, rng, bs)
                       for _ in range(MAX_PAIRS + WARM_PAIRS)]
        warm_singles, singles = (singles[:cfg["warm_singles"]],
                                 singles[cfg["warm_singles"]:])
        warm_batches, batches = batches[:WARM_PAIRS], batches[WARM_PAIRS:]

        planner = Planner(idx, BM25Weight())
        qp = QueryParser()
        vocab = c.vocab

        def qstring(q) -> str:
            if cfg["single"] == "phrase":
                return '"%s %s"' % (vocab[q[0]], vocab[q[1]])
            return " ".join(vocab[q])

        def model_scores(q):
            return m.phrase_scores(*q) if cfg["single"] == "phrase" \
                else m.or_scores(q)

        def single(q):
            """One free-text or phrase query; checks are deferred to
            `pending` so they stay out of the measured window."""
            with tr.span("query", tag=True) as sp:
                t0 = time.perf_counter()
                with tr.span("parser.parse_query"):
                    node = qp.parse_query(qstring(q))
                t1 = time.perf_counter()
                rows = planner.search(node, k=K).collect()
                t2 = time.perf_counter()
            pending.append(("single", q, [(r["docid"], r["score"])
                                          for r in rows]))
            return t2 - t0, t1 - t0, sp

        def batch(qs, use_wand: bool):
            named = {f"q{j:04d}": [vocab[t] for t in q]
                     for j, q in enumerate(qs)}
            name = "batch_wand" if use_wand else "batch_rows"
            with tr.span(name, tag=True) as sp:
                t0 = time.perf_counter()
                rows = planner.search_batch_or(named, k=K,
                                               use_wand=use_wand).collect()
                el = time.perf_counter() - t0
            res: dict[str, list] = {q: [] for q in named}
            for r in sorted(rows, key=lambda r: (r["query"], r["rank"])):
                res[r["query"]].append((r["docid"], r["score"]))
            return el, res, sp, len(rows)

        def pair(qs):
            """The same batch through both paths, in alternating order."""
            out, res = {}, {}
            for use_wand in next(orders):
                el, res[use_wand], sp, nrows = batch(qs, use_wand)
                out[use_wand] = (el, sp, nrows)
            pending.append(("pair", qs, (res[False], res[True])))
            return out

        # -- two timed phases; each follows a heap levelling and an untimed
        # warm-up of its own class, which also absorbs the file clean-up that
        # Spark's ContextCleaner starts after a JVM gc.  Batches go first:
        # they also warm much of the code the single queries run.
        pending: list = []
        orders = itertools.cycle([(False, True), (True, False)])
        phases = {"setup_before_warmup": time.time() - t_proc}
        self.level()
        pair(warm_batches[0][:WARM_SMALL])  # cold plan and codegen costs
        for qs in warm_batches[1:]:
            pair(qs)
        gc0 = self.gc_ms()
        setup_s = time.time() - t_proc
        t_phase = time.perf_counter()
        deadline = t_phase + (1 - SINGLE_SHARE) * a.seconds
        qps = {False: [], True: []}
        batch_spans = {False: [], True: []}
        for qs in batches:
            for use_wand, (el, sp, nrows) in pair(qs).items():
                qps[use_wand].append(len(qs) / el)
                batch_spans[use_wand].append((sp, nrows))
            if time.perf_counter() >= deadline:
                break
        window_gc_ms = self.gc_ms() - gc0
        phases["batches"] = time.perf_counter() - t_phase

        self.level()
        for q in warm_singles:
            single(q)
        gc0 = self.gc_ms()
        t_phase = time.perf_counter()
        deadline = t_phase + SINGLE_SHARE * a.seconds
        lat, parse_s, single_spans = [], [], []
        for q in singles:
            el, ps, sp = single(q)
            lat.append(el)
            parse_s.append(ps)
            single_spans.append(sp)
            if time.perf_counter() >= deadline:
                break
        window_gc_s = (window_gc_ms + self.gc_ms() - gc0) / 1000.0
        phases["singles"] = time.perf_counter() - t_phase

        t0 = time.perf_counter()
        for kind, q, got in pending:
            if kind == "single":
                self.op(compare_topk(got, model_scores(q), m, K),
                        f"single {qstring(q)!r}")
                continue
            for j, qj in enumerate(q):
                key, scores = f"q{j:04d}", m.or_scores(qj)
                for path, res in zip(("rows", "wand"), got):
                    self.op(compare_topk(res[key], scores, m, K),
                            f"batch {path} {key} {qj}")
                self.op(same_ranking(got[0][key], got[1][key], scores),
                        f"batch rows vs wand {key}")
        phases["checks"] = time.perf_counter() - t0

        # -- delete/replace batch through WritableDatabase ------------------
        t0 = time.perf_counter()
        s_commit = self.update_batch(spark, wh, c, m)
        phases["update"] = time.perf_counter() - t0
        print("phases", json.dumps({k: round(v, 2) for k, v in phases.items()}),
              f"singles={len(lat)} pairs={len(batch_spans[True])}",
              file=sys.stderr)

        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        e2e = {
            "setup_s": (setup_s, "s"),
            "build_docs_per_s": (c.ndocs / build_s, "1/s"),
            "index_bytes_per_input_byte": (index_bytes / src_bytes, "ratio"),
            "query_p50_s": (statistics.median(lat), "s"),
            "batch_rows_qps": (statistics.median(qps[False]), "1/s"),
            "batch_wand_qps": (statistics.median(qps[True]), "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if a.trace:
            self.trace_spans = dict(
                s_build=s_build, s_open=s_open,
                s_commit=s_commit, single_spans=single_spans,
                batch_spans=batch_spans, parse_s=parse_s, wh=wh,
                session_s=session_s, window_gc_s=window_gc_s,
            )
            self.e2e = metrics
        return metrics

    def check_ingest(self, idx, c, m) -> None:
        """doccount, total doclen, tf/cf of every term, and the content
        sha256 of sampled rows, against the generator's counts."""
        from pyspark.sql import functions as F

        st = idx.stats
        self.op(None if (st.doccount, st.total_doclen)
                == (c.ndocs, m.total_doclen) else
                f"doccount/total_doclen {(st.doccount, st.total_doclen)} "
                f"!= {(c.ndocs, m.total_doclen)}", "ingest stats")
        got = {r["term"]: (r["tf"], r["cf"])
               for r in idx.term_stats.select("term", "tf", "cf").collect()}
        present = np.flatnonzero(m.tf)
        want = {c.vocab[t]: (int(m.tf[t]), int(m.cf[t])) for t in present}
        err = None
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            err = f"{len(set(got) ^ set(want))} terms differ in presence; " \
                  f"e.g. {bad}"
        self.op(err, "ingest tf/cf")
        rng = np.random.default_rng([self.args.seed, 0x5A])
        sample = sorted(int(d) for d in rng.choice(c.docids, 20, replace=False))
        rows = idx.docs.where(F.col("docid").isin(sample)) \
            .select("docid", "content").collect()
        for d in sample:
            want_sha = hashlib.sha256(c.text(d - 1).encode()).hexdigest()
            have = [hashlib.sha256(r["content"].encode()).hexdigest()
                    for r in rows if r["docid"] == d]
            self.op(None if have == [want_sha] else "content sha256 differs",
                    f"doc {d}")

    def update_batch(self, spark, wh, c, m):
        """Delete N_UPDATE docs and replace N_UPDATE others through
        WritableDatabase.commit(), reopen, and check by search that each
        replacement is found by its new text and no old or deleted text
        still finds its doc."""
        from xapian_spark.api import WritableDatabase
        from xapian_spark.index import merge
        from xapian_spark.query.planner import Planner
        from xapian_spark.ranking.weights import BM25Weight

        rng = np.random.default_rng([self.args.seed, 0xDE1])
        picked = rng.choice(c.ndocs, 2 * N_UPDATE, replace=False)
        deleted = [int(i) for i in picked[:N_UPDATE]]
        replaced = [int(i) for i in picked[N_UPDATE:]]
        new_text = {i: f"upd{j:03d}x def return self"
                    for j, i in enumerate(replaced)}
        db = WritableDatabase(spark, wh)
        for i in deleted:
            db.delete_document(int(c.docids[i]))
        for i in replaced:
            db.replace_document(int(c.docids[i]), {
                "content": new_text[i], "repo": "updated", "path": "updated",
                "commit": "0" * 40, "lang": "python"})
        with self.tr.span("api.commit", tag=True) as s_commit:
            db.commit()
        with self.tr.span("merge.read_warehouse.overlay", tag=True):
            idx = merge.read_warehouse(spark, wh)
        n_live = c.ndocs - N_UPDATE
        self.op(None if idx.stats.doccount == n_live else
                f"doccount {idx.stats.doccount} != {n_live}",
                "doccount after update")

        gone = set(deleted) | set(replaced)
        queries, expect = {}, {}
        for i in deleted + replaced:
            toks = np.unique(c.doc_tokens(i))
            t = int(toks[np.argmin(m.tf[toks])])  # the doc's rarest term
            term = c.vocab[t]
            docs = {int(d) for d in m.postings(t)[0]} - gone
            docs |= {j for j in replaced if term in new_text[j].split()}
            queries[f"old{i}"] = [term]
            expect[f"old{i}"] = docs
        for i in replaced:
            queries[f"new{i}"] = [new_text[i].split()[0]]
            expect[f"new{i}"] = {i}
        k = max(len(v) for v in expect.values()) + 5
        with self.tr.span("batch_rows.overlay", tag=True):
            rows = Planner(idx, BM25Weight()).search_batch_or(
                queries, k=k, use_wand=False).collect()
        found = {q: set() for q in queries}
        for r in rows:
            found[r["query"]].add(int(r["docid"]) - 1)
        for q, want in expect.items():
            self.op(None if found[q] == want else
                    f"found {sorted(found[q])[:5]}, want {sorted(want)[:5]}",
                    f"after update {q}")
        return s_commit


def per_layer(bench: Bench) -> tuple[dict, list]:
    """Per-layer metrics of a traced run, and the per-span accounting."""
    t = bench.trace_spans
    jobs = read_event_log(bench.event_dir)
    by_span = attribute(bench.tr.spans, jobs)

    def acct(sp):
        return totals(by_span.get(sp["id"], []))

    def dur(sp):
        return sp["end"] - sp["start"]

    wh = t["wh"]

    def meta(name):
        with open(os.path.join(wh, "_meta", f"{name}.json")) as f:
            return json.load(f)

    ranges = [meta(f"blocked_range_{i}")["elapsed_sec"]
              for i in range(meta("ranges")["n_ranges"])]
    build = acct(t["s_build"])
    commit = acct(t["s_commit"])
    singles = [acct(sp) for sp in t["single_spans"]]
    med = statistics.median
    out = {
        "session.start_s": (t["session_s"], "s"),
        "merge.termlists_s": (meta("termlists")["elapsed_sec"], "s"),
        "merge.runs_s": (meta("runs")["elapsed_sec"], "s"),
        "merge.blocked_s": (sum(ranges), "s"),
        "merge.blocked_range_max_s": (max(ranges), "s"),
        "merge.stats_s": (meta("stats")["elapsed_sec"], "s"),
        "merge.docdata_s": (meta("docdata")["elapsed_sec"], "s"),
        "merge.jobs": (build["jobs"], "count"),
        "merge.task_s": (build["task_s"], "s"),
        "merge.shuffle_write_bytes": (build["shuffle_write_bytes"], "bytes"),
        "merge.spill_bytes": (build["spill_bytes"], "bytes"),
        "merge.read_warehouse_s": (dur(t["s_open"]), "s"),
        "api.commit_s": (dur(t["s_commit"]), "s"),
        "api.commit_jobs": (commit["jobs"], "count"),
        "parser.parse_s": (med(t["parse_s"]), "s"),
        "search.jobs_per_query": (med(s["jobs"] for s in singles), "count"),
        "search.stages_per_query": (med(s["stages"] for s in singles), "count"),
        "search.task_s_per_query": (med(s["task_s"] for s in singles), "s"),
        "jvm.gc_s": (t["window_gc_s"], "s"),
    }
    for table in ("termlists", "runs", "blocked", "docs"):
        out[f"index.{table}_bytes"] = (data_bytes(os.path.join(wh, table)),
                                       "bytes")
    for use_wand, name in ((True, "batch_wand"), (False, "batch_rows")):
        accts = [(acct(sp), nrows) for sp, nrows in t["batch_spans"][use_wand]]
        out[f"{name}.jobs"] = (med(x["jobs"] for x, _ in accts), "count")
        out[f"{name}.task_s"] = (med(x["task_s"] for x, _ in accts), "s")
        out[f"{name}.input_records"] = (
            med(x["input_records"] for x, _ in accts), "count")
        out[f"{name}.shuffle_bytes"] = (
            med(x["shuffle_write_bytes"] for x, _ in accts), "bytes")
        if use_wand:
            out[f"{name}.records_per_result"] = (
                med(x["input_records"] / max(n, 1) for x, n in accts),
                "count")
    spans = [dict(s, jobs=acct(s) if s["group"] else None)
             for s in bench.tr.spans]
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}, spans


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine must come from this checkout: fail before any work if not
    import xapian_spark  # noqa: F401

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the engine and inherit this env
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    bench = Bench(args, work)
    try:
        metrics = bench.run()
        if args.trace:
            # the event log is complete only after the session stopped
            metrics, spans = per_layer(bench)
            out_dir = os.path.join(ROOT, ".bench_traces")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "seconds": args.seconds, "per_layer": metrics,
                           "end_to_end": bench.e2e, "spans": spans}, f,
                          indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors:
        print("FAILED", e, file=sys.stderr)
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
