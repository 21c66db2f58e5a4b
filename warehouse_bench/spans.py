"""Spans around the benchmark's calls into the engine, and Spark's own
accounting for them from the event log.

A span is (id, name, start, end, parent) in epoch seconds.  Spans that wrap
a public call also tag the Spark jobs it runs with a job group named after
the span id.  Jobs started from threads the engine creates itself (the
stage-2 range packer's pool) carry no group, because Spark keeps local
properties per thread; those jobs go to the innermost tagged span whose
interval holds their submission time.  The benchmark has one client, so
tagged spans never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; otherwise every method is a no-op, so
    the untraced run does no Spark tagging and writes no event log."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, tag: bool = False):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"span{sid}" if tag else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if tag:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            if tag:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.time()
            self._stack.pop()


def read_event_log(log_dir: str) -> dict:
    """Per-job accounting from a finished Spark event log:
    {job_id: {"group", "submitted", "stages", "tasks", "task_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_records"}}."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*"))
               if not p.endswith(".inprogress")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                    "submitted": ev["Submission Time"] / 1000.0,
                    "stages": set(), "tasks": 0, "task_s": 0.0,
                    "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                    "spill_bytes": 0, "input_records": 0,
                }
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["task_s"] += m["Executor Run Time"] / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                job["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                job["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                job["input_records"] += (
                    (m.get("Input Metrics") or {}).get("Records Read", 0)
                )
    return jobs


def attribute(spans: list[dict], jobs: dict) -> dict[int, list[dict]]:
    """span id -> the jobs it ran (see module docstring)."""
    tagged = [s for s in spans if s["group"] is not None]
    by_group = {s["group"]: s["id"] for s in tagged}
    out: dict[int, list[dict]] = {s["id"]: [] for s in tagged}
    for job in jobs.values():
        sid = by_group.get(job["group"])
        if sid is None:
            holders = [s for s in tagged
                       if s["start"] <= job["submitted"] <= s["end"]]
            if not holders:
                continue
            sid = max(holders, key=lambda s: s["start"])["id"]
        out[sid].append(job)
    return out


def totals(job_list: list[dict]) -> dict:
    """Summed accounting of a list of jobs."""
    keys = ("tasks", "task_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "input_records")
    out = {k: sum(j[k] for j in job_list) for k in keys}
    out["jobs"] = len(job_list)
    out["stages"] = sum(len(j["stages"]) for j in job_list)
    return out
