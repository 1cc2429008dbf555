"""Spans around the library's public functions, and an event-log digest.

Nothing here edits the library: ``Tracer.install`` replaces module
attributes with timing wrappers for the life of the traced process.
Each wrapper records a span (name, start, end, parent, execution id)
and runs its call under a Spark job group named after the span, so the
event log attributes every job, stage and task to the span that
submitted it.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time

# (module, attribute, span name).  Operators are wrapped as attributes of
# the merge module, i.e. at the calls the merge pipeline makes.
TARGETS = [
    ("beehive_spark.pipeline.merge", "MergePipeline.check_provenance", "merge.check_provenance"),
    ("beehive_spark.pipeline.merge", "MergePipeline.check_integrity", "merge.check_integrity"),
    ("beehive_spark.pipeline.merge", "MergePipeline.build_mappings", "merge.build_mappings"),
    ("beehive_spark.pipeline.merge", "MergePipeline.run", "merge.run"),
    ("beehive_spark.pipeline.merge", "MergePipeline.publish", "merge.publish"),
    ("beehive_spark.pipeline.merge", "uuid_fixpoint", "merge.uuid_fixpoint"),
] + [
    ("beehive_spark.pipeline.merge", op, f"operators.{op}")
    for op in ("assign_ids", "next_id_base", "disjunctive_match", "remap_fks", "orphan_check")
] + [
    ("beehive_spark.pipeline.curate", "curate_corpus", "curate.curate_corpus"),
    ("beehive_spark.pipeline.curate", "curation_fate", "curate.curation_fate"),
    ("beehive_spark.pipeline.curate", "export_training_shards", "curate.export_training_shards"),
    ("beehive_spark.pipeline.curate", "quality_filter", "queries.quality_filter"),
    ("beehive_spark.pipeline.curate", "dedup_clusters", "queries.dedup_clusters"),
    ("beehive_spark.queries.llm", "dedup_ngram_jaccard", "queries.dedup_ngram_jaccard"),
    ("beehive_spark.operators.graph", "connected_components", "graph.connected_components"),
]

GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.execution = -1

    def call(self, name, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``."""
        sid = len(self.spans)
        span = {"id": sid, "name": name, "exec": self.execution,
                "parent": self.stack[-1] if self.stack else None,
                "group": f"e{self.execution}.s{sid}"}
        self.spans.append(span)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, span["group"])
        self.stack.append(sid)
        span["start"] = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP, prev)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)
        return wrapper

    def install(self):
        for mod, attr, name in TARGETS:
            owner = importlib.import_module(mod)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            setattr(owner, leaf, self._wrap(getattr(owner, leaf), name))


# ---------------------------------------------------------------------------
# event log digest
# ---------------------------------------------------------------------------

MB = 2**20


def _union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def read_event_log(path):
    """Jobs (group, submit/complete ms, stages) and per-stage task
    metrics from an uncompressed Spark event log."""
    jobs, stage_job, tasks = {}, {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get(GROUP), "start": ev["Submission Time"],
                             "end": ev["Submission Time"]}
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "dur": info["Finish Time"] - info["Launch Time"],
                    "failed": bool(info.get("Failed")),
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                })
    return jobs, stage_job, tasks


def engine_counters(job_ids, jobs, stage_job, tasks):
    """Engine counters over a set of job ids."""
    job_ids = set(job_ids)
    stages = [s for s, j in stage_job.items() if j in job_ids and s in tasks]
    ts = [t for s in stages for t in tasks[s]]
    hot = max(stages, key=lambda s: sum(t["run_s"] for t in tasks[s]), default=None)
    skew = 0.0
    if hot is not None:
        d = [t["dur"] for t in tasks[hot]]
        skew = max(d) / max(statistics.median(d), 1)
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(stages),
        "spark.tasks": len(ts),
        "spark.tasks_failed": sum(t["failed"] for t in ts),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.executor_run_s": sum(t["run_s"] for t in ts),
        "spark.gc_s": sum(t["gc_s"] for t in ts),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / MB,
        "spark.spill_mb": sum(t["spill"] for t in ts) / MB,
        "spark.input_mb": sum(t["input"] for t in ts) / MB,
        "spark.output_mb": sum(t["output"] for t in ts) / MB,
        "spark.job_busy_s": _union_s([(jobs[j]["start"], jobs[j]["end"]) for j in job_ids]),
        "spark.task_max_over_median": skew,
    }


def span_metrics(spans, jobs, stage_job, tasks):
    """Per execution: {span name: {s, self_s, jobs, self_jobs, calls, mb}}
    with ``jobs`` inclusive of child spans and ``mb`` the bytes the
    span's jobs wrote."""
    by_group: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        by_group.setdefault(j["group"], []).append(jid)
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def inclusive(sid):
        out = list(by_group.get(spans[sid]["group"], []))
        for c in children.get(sid, ()):
            out += inclusive(c)
        return out

    per_exec: dict[int, dict[str, dict]] = {}
    for s in spans:
        own = by_group.get(s["group"], [])
        inc = inclusive(s["id"])
        inc_ids = set(inc)
        dur = s["end"] - s["start"]
        kids = sum(spans[c]["end"] - spans[c]["start"] for c in children.get(s["id"], ()))
        out_mb = sum(t["output"] for st, j in stage_job.items() if j in inc_ids
                     for t in tasks.get(st, ())) / MB
        s["jobs"], s["self_jobs"], s["output_mb"] = len(inc), len(own), out_mb
        agg = per_exec.setdefault(s["exec"], {}).setdefault(
            s["name"], {"s": 0.0, "self_s": 0.0, "jobs": 0, "self_jobs": 0, "calls": 0, "mb": 0.0})
        agg["s"] += dur
        agg["self_s"] += dur - kids
        agg["jobs"] += len(inc)
        agg["self_jobs"] += len(own)
        agg["calls"] += 1
        agg["mb"] += out_mb
    return per_exec, by_group
