"""In-memory spans around calls into the program's public functions.

A span wraps one call, named ``<module>.<function>``. Spans are kept in
memory (name, start, end, parent, run id) and written out when the run
ends. Each span runs its Spark jobs under its own job group, so the
jobs it caused are read back exactly from ``statusTracker``; the event
log then supplies the stages, tasks, shuffle and GC figures of those
jobs.

Spans are installed by replacing module attributes from outside the
program (``patched``) and removed again afterwards; nothing in the
program changes.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import statistics
import time
from dataclasses import dataclass, field

from perfbench import eventlog


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    persisted_left: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one run. ``sc`` is the live SparkContext (or None in
    tests, where jobs and persisted RDDs are not read)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.resuming = False  # names lineage.run_bucketed calls "resume"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}/{len(self.spans)}", name, parent.id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(s.id))
                s.persisted_left = int(self.sc._jsc.getPersistentRDDs().size())
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()

    def wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


# (module, attribute, span name). Modules that bound a function by name
# at import time (``from x import f``) are listed too, so their calls
# go through the span as well.
TARGETS = [
    ("gfp_gdal_spark.sources.io", "read_images", "sources.read"),
    ("gfp_gdal_spark.functions.spatial", "with_footprint", "functions.spatial.with_footprint"),
    ("gfp_gdal_spark.pipelines", "with_footprint", "functions.spatial.with_footprint"),
    ("gfp_gdal_spark.operators.joins", "pip_join", "operators.joins.pip_join"),
    ("gfp_gdal_spark.operators.joins", "tile_assign", "operators.joins.tile_assign"),
    ("gfp_gdal_spark.operators.joins", "knn_join", "operators.joins.knn_join"),
    ("gfp_gdal_spark.pipelines", "decode_and_hash", "pipelines.decode_and_hash"),
    ("gfp_gdal_spark.pipelines", "north_star_pipeline", "pipelines.north_star_pipeline"),
    ("gfp_gdal_spark.plans.graph", "connected_components", "plans.graph.connected_components"),
    ("gfp_gdal_spark.plans.graph", "pagerank", "plans.graph.pagerank"),
    ("gfp_gdal_spark.plans.graph", "bfs_hops", "plans.graph.bfs_hops"),
    ("gfp_gdal_spark.operators.vectorize", "stitch_regions", "operators.vectorize.stitch_regions"),
    ("gfp_gdal_spark.operators.audio", "audio_stats", "operators.audio.audio_stats"),
    ("gfp_gdal_spark.operators.profiling", "distinct_profile", "operators.profiling.distinct_profile"),
]
RUN_BUCKETED = "plans.lineage.run_bucketed"
RESUME = "plans.lineage.resume"


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Install the spans for the duration of the block. A call to
    ``lineage.run_bucketed`` is named ``plans.lineage.resume`` while
    ``tracer.resuming`` is set."""
    saved = []
    try:
        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, tracer.wrap(orig, name))
        lineage = importlib.import_module("gfp_gdal_spark.plans.lineage")
        run_bucketed = lineage.run_bucketed
        saved.append((lineage, "run_bucketed", run_bucketed))

        @functools.wraps(run_bucketed)
        def traced_run_bucketed(*args, **kwargs):
            with tracer.span(RESUME if tracer.resuming else RUN_BUCKETED):
                return run_bucketed(*args, **kwargs)

        lineage.run_bucketed = traced_run_bucketed
        yield tracer
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


# ---------------------------------------------------------------------------
# arithmetic over a finished span tree
# ---------------------------------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


def children_of(spans: list[Span]) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, kids: list[Span]) -> float:
    """Span wall time minus the part of it its child spans cover."""
    cover = [(max(k.start, span.start), min(k.end, span.end)) for k in kids]
    return span.wall - union_length(cover)


def subtree_jobs(span: Span, kids_of: dict[str, list[Span]]) -> list[int]:
    jobs = list(span.jobs)
    for k in kids_of.get(span.id, []):
        jobs.extend(subtree_jobs(k, kids_of))
    return sorted(set(jobs))


def span_metrics(span: Span, jobs: list[int], log: eventlog.AppLog | None) -> dict[str, float]:
    """Per-span figures. Jobs are the span's own plus its descendants'."""
    out = {"call_s": span.wall, "jobs": float(len(jobs)), "persisted_left": float(span.persisted_left)}
    stages = log.stages_of_jobs(jobs) if log else []
    tasks = [t for s in stages for t in log.stages[s].tasks]
    busy = [
        (max(log.stages[s].submit_ms / 1000.0, span.start), min(log.stages[s].complete_ms / 1000.0, span.end))
        for s in stages
        if log.stages[s].submit_ms is not None and log.stages[s].complete_ms is not None
    ]
    out["driver_gap_s"] = span.wall - union_length(busy)
    out["executor_run_s"] = sum(t.run_ms for t in tasks) / 1000.0
    out["shuffle_write_mb"] = sum(t.shuffle_write_bytes for t in tasks) / 1e6
    out["spill_mb"] = sum(t.spill_bytes for t in tasks) / 1e6
    out["task_skew"] = task_skew(log, stages) if stages else 0.0
    out["stages"] = float(len(stages))
    out["tasks"] = float(len(tasks))
    out["executor_cpu_s"] = sum(t.cpu_ns for t in tasks) / 1e9
    out["gc_s"] = sum(t.gc_ms for t in tasks) / 1000.0
    return out


def task_skew(log: eventlog.AppLog, stages: list[int]) -> float:
    """max / median task run time in the longest-running stage."""
    def dur(s):
        st = log.stages[s]
        if st.submit_ms is None or st.complete_ms is None:
            return -1
        return st.complete_ms - st.submit_ms

    runs = [t.run_ms for t in log.stages[max(stages, key=dur)].tasks]
    if not runs:
        return 0.0
    return max(runs) / max(statistics.median(runs), 1.0)


def layer_table(spans: list[Span], log: eventlog.AppLog | None) -> dict[str, dict[str, float]]:
    """Span name -> suffix -> median over that name's occurrences."""
    kids_of = children_of(spans)
    per_name: dict[str, list[dict[str, float]]] = {}
    for s in spans:
        m = span_metrics(s, subtree_jobs(s, kids_of), log)
        m["self_s"] = self_time(s, kids_of.get(s.id, []))
        per_name.setdefault(s.name, []).append(m)
    return {
        name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        for name, rows in per_name.items()
    }


def candidates_per_match(log: eventlog.AppLog, group: str) -> float:
    """Equi-join output rows / refine output rows of a job group's SQL."""
    cand, match = eventlog.join_filter_rows(log, eventlog.executions_of_group(log, group))
    return cand / match if match else 0.0


def dump(spans: list[Span]) -> list[dict]:
    kids_of = children_of(spans)
    return [
        {
            "id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
            "start": s.start, "end": s.end, "self_s": self_time(s, kids_of.get(s.id, [])),
            "jobs": s.jobs, "persisted_left": s.persisted_left,
        }
        for s in spans
    ]
