"""Spans, counters and layer hooks for the traced run.

Spans are recorded by the benchmark around its calls into the
program's public functions; they are kept in memory and written when
the run ends. Functions the program calls internally are wrapped by
rebinding every module-level reference to them, so the wrapper is seen
whichever module imported the name and whenever it did.

Job, stage and task counts come from Spark job groups: a span that
counts jobs puts its calls in a job group of its own and asks the
status tracker, when the span ends, which jobs ran in that group.
Counts are exclusive: jobs of a nested counting span belong to it, not
to its parent.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "trafik_etl_modular_spark"


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, so the untraced run pays nothing but a function call."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"pb-{idx}", name)
        try:
            yield rec
        finally:
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self._count_jobs(rec, f"pb-{idx}")
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _count_jobs(self, rec: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = tracker.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo is not None else 0
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    def peak(self, name: str, v: float) -> None:
        if self.enabled:
            self.counters[name] = max(self.counters[name], v)

    # ---- aggregation -------------------------------------------------

    def within(self, name: str, window: tuple[float, float] | None = None) -> list[dict]:
        """Finished spans called ``name`` that start inside ``window``
        (perf_counter seconds, both ends included); all of them if None."""
        return [
            s
            for s in self.spans
            if s["name"] == name
            and s["end"] is not None
            and (window is None or window[0] <= s["start"] <= window[1])
        ]

    def totals(self, name: str, window: tuple[float, float] | None = None) -> dict:
        """Sum of duration and job counts over spans called ``name``."""
        out = {"n": 0, "s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
        for s in self.within(name, window):
            out["n"] += 1
            out["s"] += s["end"] - s["start"]
            for k in ("jobs", "stages", "tasks"):
                out[k] += s.get(k, 0)
        return out

    def self_times(self, window: tuple[float, float]) -> dict[str, float]:
        """Self time per span name: duration minus the part of it that
        child spans cover (children of one span never overlap, since the
        client is single-threaded)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is None or not window[0] <= s["start"] <= window[1]:
                continue
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)


def rebind(original, replacement) -> int:
    """Point every module-level reference to ``original`` inside the
    package at ``replacement``; return how many were rebound."""
    n = 0
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def wrap(tracer: Tracer, original, span: str, jobs: bool = False, counter: str | None = None):
    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        if counter:
            tracer.count(counter)
        with tracer.span(span, jobs=jobs):
            return original(*args, **kwargs)

    rebind(original, wrapper)


def install_hooks(tracer: Tracer) -> None:
    """Wrap the internal calls named in the layer map. Call after the
    query modules are imported (``rebind`` reaches names they imported)."""
    from pyspark.sql import DataFrame

    from trafik_etl_modular_spark import catalog
    from trafik_etl_modular_spark.operators import bucketing, pinning
    from trafik_etl_modular_spark.pipelines import ingest, sink
    from trafik_etl_modular_spark.queries import graph, llmdata, source_feed
    from trafik_etl_modular_spark.sources import xml_feed
    from trafik_etl_modular_spark.streaming import sessionize

    wrap(tracer, catalog.load_table, "catalog", jobs=True, counter="catalog.calls")
    wrap(tracer, pinning.pin, "pinning", jobs=True, counter="pinning.calls")
    wrap(tracer, sink.merge_into_incidents, "sink.merge", jobs=True)
    wrap(tracer, ingest.normalize_incidents, "ingest.normalize", jobs=True)
    wrap(tracer, xml_feed.register_xml_feed, "xml_feed.register", jobs=True)
    modules = {
        "bucketing": bucketing,
        "graph": graph,
        "llmdata": llmdata,
        "source_feed": source_feed,
        "sessionize": sessionize,
    }
    for mod, fn, family in ARTIFACT_BUILDERS:
        wrap(tracer, getattr(modules[mod], fn), f"artifact.{family}", jobs=True)

    original_lc = DataFrame.localCheckpoint

    @functools.wraps(original_lc)
    def local_checkpoint(self, eager=True, *args, **kwargs):
        tracer.count("pinning.local_checkpoints")
        with tracer.span("localCheckpoint", jobs=True):
            return original_lc(self, eager, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint


# (module, builder function, artifact family)
ARTIFACT_BUILDERS = [
    ("bucketing", "ensure_bucketed_orders_lineitem", "bucketing"),
    ("graph", "ensure_edge_table", "graph_edges"),
    ("llmdata", "_ivf_ensure_index", "ivf"),
    ("llmdata", "_ivf_ensure_pq", "ivf"),
    ("llmdata", "_ivf_ensure_appended_index", "ivf"),
    ("llmdata", "_ivf_ensure_purged_index", "ivf"),
    ("source_feed", "ensure_feed_dir", "source_feed"),
    ("source_feed", "ensure_evolved_dir", "source_feed"),
    ("sessionize", "stage_time_ordered_chunks", "sessionize"),
]
ARTIFACT_FAMILY = {fn: f for _, fn, f in ARTIFACT_BUILDERS}
ARTIFACT_FAMILIES = sorted(set(ARTIFACT_FAMILY.values()))


def artifact_dirs(warehouse: str, foreign: set[str] = frozenset()) -> set[str]:
    """Derived-artifact directories the program has created: entries two
    levels under the warehouse and the ``/tmp/trafik_*`` caches, less
    the ``foreign`` caches that other processes left there."""
    found = set(glob.glob(os.path.join(warehouse, "*", "*")))
    found |= set(glob.glob("/tmp/trafik_*")) - foreign
    return {p for p in found if ".tmp." not in p}


def tree_bytes(paths) -> int:
    """Bytes of the regular files under ``paths`` (links are not followed)."""
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                path = os.path.join(root, f)
                if not os.path.islink(path):
                    total += os.path.getsize(path)
        if os.path.isfile(p) and not os.path.islink(p):
            total += os.path.getsize(p)
    return total


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def parse_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Executor metrics of the tasks and jobs inside [t0_ms, t1_ms]
    (epoch milliseconds) from an uncompressed event log directory."""
    task_ms = gc_ms = input_b = shuffle_b = spill_b = 0
    failed = 0
    jobs: dict[int, list] = {}
    job_tasks: dict[int, list] = defaultdict(list)
    stage_job: dict[int, int] = {}
    feed_stages: set[int] = set()
    stage_exec_ms: dict[int, float] = defaultdict(float)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev["Submission Time"] <= t1_ms:
                        jobs[ev["Job ID"]] = [ev["Submission Time"], None]
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    for st in ev.get("Stage Infos", []):
                        # the feed's Python data source scans as "BatchScan xml_feed"
                        if any("xml_feed" in (r.get("Scope") or "") for r in st.get("RDD Info", [])):
                            feed_stages.add(st["Stage ID"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not (t0_ms <= info["Launch Time"] <= t1_ms):
                        continue
                    if info.get("Failed"):
                        failed += 1
                    m = ev.get("Task Metrics") or {}
                    task_ms += m.get("Executor Run Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sid = ev["Stage ID"]
                    stage_exec_ms[sid] += m.get("Executor Run Time", 0)
                    if sid in stage_job:
                        job_tasks[stage_job[sid]].append((info["Launch Time"], info["Finish Time"]))
    gap_ms = 0.0
    for jid, (start, end) in jobs.items():
        if end is None:
            continue
        covered = _union_ms(job_tasks.get(jid, []), start, end)
        gap_ms += (end - start) - covered
    return {
        "exec.task_s": task_ms / 1000,
        "exec.gc_s": gc_ms / 1000,
        "exec.input_bytes": input_b,
        "exec.shuffle_bytes": shuffle_b,
        "exec.spill_bytes": spill_b,
        "exec.failed_tasks": failed,
        "exec.sched_gap_s": gap_ms / 1000,
        "feed_stage_task_s": sum(stage_exec_ms[s] for s in feed_stages) / 1000,
    }


def _union_ms(intervals: list, lo: float, hi: float) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
