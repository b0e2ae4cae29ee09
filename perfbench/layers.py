"""Per-layer tracing from outside the engine.

``Tracer`` wraps the layer functions that callers look up (module
attributes and ``ParquetStore`` methods), records one span per call, and
sets a Spark job group per span, so that every job, stage and task in
Spark's event log can be attributed to the innermost layer call that
launched it. Spans stay in memory; ``layer_metrics`` joins them with the
event log after the session has stopped and the log is complete.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

# every per-layer metric, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.grid.calls": "count",
    "sources.grid.s": "s",
    "sources.grid.rows": "count",
    "transforms.s": "s",
    "operators.integrity.s": "s",
    "operators.integrity.jobs": "count",
    "sinks.s": "s",
    "sinks.jobs": "count",
    "sinks.files": "count",
    "sinks.mb": "MB",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "sources.tables.calls": "count",
    "sources.tables.s": "s",
    "sources.tables.jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "driver.idle_s": "s",
}


@dataclass
class Span:
    sid: str
    layer: str
    op: int | None  # index of the timed operation; None during warm-up
    parent: Span | None
    t0: float
    t1: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


def _landed(root: str) -> dict[str, tuple[int, int]]:
    """Visible data files under ``root``: path -> (mtime_ns, size).
    Dot- and underscore-prefixed names (staging dirs, CRCs, _SUCCESS)
    are skipped, as readers skip them."""
    out = {}
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in files:
            if not name.startswith((".", "_")):
                st = os.stat(os.path.join(base, name))
                out[os.path.join(base, name)] = (st.st_mtime_ns, st.st_size)
    return out


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        if self.stack and self.stack[-1].layer == layer:
            yield self.stack[-1]  # a layer calling itself stays one span
            return
        s = Span(f"pb{len(self.spans)}", layer, self.op, self.stack[-1] if self.stack else None, 0.0)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setLocalProperty(GROUP_KEY, s.sid)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, self.stack[-1].sid if self.stack else None)

    def wrap(self, owner: object, name: str, layer: str, count=None) -> None:
        """Replace ``owner.name`` with a traced wrapper. ``count(tracer,
        args, kwargs, call)`` may add counts to the call's span; ``call``
        runs the original under the span and returns its result."""
        orig = getattr(owner, name)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            def call():
                with tracer.span(layer):
                    return orig(*args, **kwargs)

            if count is None:
                return call()
            return count(tracer, args, kwargs, call)

        self._patched.append((owner, name, orig))
        setattr(owner, name, traced)

    def restore(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()


def _grid_rows(tracer: Tracer, args, kwargs, call):
    """sources.grid: rows handed to the ingest layer (below the header)."""
    n_spans = len(tracer.spans)
    result = call()
    grid, header_row = args[1], kwargs.get("header_row", args[2] if len(args) > 2 else 2)
    if len(tracer.spans) > n_spans:
        s = tracer.spans[n_spans]
        s.counts["rows"] = s.counts.get("rows", 0) + max(len(grid) - header_row, 0)
    return result


def _landed_files(root_of):
    """sinks: files, and their MB, that a call lands (new or rewritten)."""

    def count(tracer: Tracer, args, kwargs, call):
        root = root_of(args, kwargs)
        before = _landed(root) if root and os.path.isdir(root) else {}
        n_spans = len(tracer.spans)
        result = call()
        after = _landed(root) if root and os.path.isdir(root) else {}
        new = [v for k, v in after.items() if before.get(k) != v]
        if len(tracer.spans) > n_spans:
            s = tracer.spans[n_spans]
            s.counts["files"] = s.counts.get("files", 0) + len(new)
            s.counts["bytes"] = s.counts.get("bytes", 0) + sum(size for _, size in new)
        return result

    return count


def install_pipeline(tracer: Tracer) -> None:
    """Wrap the names ``pipeline.run_pipeline`` looks up."""
    from etl_data_peri_institute_spark import pipeline, sinks

    tracer.wrap(pipeline, "run_pipeline", "pipeline")
    tracer.wrap(pipeline, "grid_to_df", "sources.grid", _grid_rows)
    for name in (
        "transform_cursos", "transform_estudiantes", "transform_matriculas",
        "transform_pagos_primera_cuota", "transform_regular_pagos", "_incremental_filter",
    ):
        tracer.wrap(pipeline, name, "transforms")
    for name in ("dedupe_keep_last", "fk_split", "required_not_null_split", "assert_pk_absent"):
        tracer.wrap(pipeline, name, "operators.integrity")
    store_root = _landed_files(lambda a, k: a[0].root)
    for name in ("upsert", "insert"):
        tracer.wrap(sinks.ParquetStore, name, "sinks", store_root)
    for name in ("read", "exists"):
        tracer.wrap(sinks.ParquetStore, name, "sinks")
    tracer.wrap(pipeline, "audit_csv", "sinks", _landed_files(lambda a, k: a[1]))


def install_tables(tracer: Tracer) -> None:
    """Wrap ``load_table`` in every plans module that imported it."""
    import sys

    from etl_data_peri_institute_spark.sources import tables

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if name.startswith("etl_data_peri_institute_spark.plans") and getattr(mod, "load_table", None) is tables.load_table:
            tracer.wrap(mod, "load_table", "sources.tables")
    tracer.wrap(tables, "load_table", "sources.tables")


# -- event log ----------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: list[tuple[int, int]] = field(default_factory=list)  # (submit ms, end ms)
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Job, stage and task totals per job group from one event log."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get(GROUP_KEY, "")
                job_group[ev["Job ID"]] = gid
                job_start[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = gid
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                groups[job_group[jid]].jobs.append((job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get(GROUP_KEY)
                if gid is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = gid
            elif kind == "SparkListenerStageCompleted":
                groups[stage_group.get(ev["Stage Info"]["Stage ID"], "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.task_ms += m.get("Executor Run Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return groups


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(spans: list[Span], groups: dict[str, GroupStats], n_ops: int) -> dict[str, float]:
    """Per-operation means over the timed operations (spans with an op),
    except ``session.start_s``, which the caller fills in."""
    timed = [s for s in spans if s.op is not None]
    by_layer: dict[str, list[Span]] = defaultdict(list)
    for s in timed:
        by_layer[s.layer].append(s)

    def secs(layer: str) -> float:
        return sum(s.t1 - s.t0 for s in by_layer[layer])

    def jobs(layer: str) -> int:
        return sum(len(groups[s.sid].jobs) for s in by_layer[layer] if s.sid in groups)

    def child_secs(layer: str, child: str) -> float:
        return sum(s.t1 - s.t0 for s in by_layer[child] if s.parent is not None and s.parent.layer == layer)

    top = [s for s in timed if s.parent is None]  # one per operation
    pipeline_self = sum(
        (s.t1 - s.t0) - sum(c.t1 - c.t0 for c in timed if c.parent is s) for s in by_layer["pipeline"]
    )
    op_groups: dict[int, list[GroupStats]] = defaultdict(list)
    for s in timed:
        if s.sid in groups:
            op_groups[s.op].append(groups[s.sid])
    all_groups = [g for gs in op_groups.values() for g in gs]
    exec_s = sum(_union_ms([j for g in gs for j in g.jobs]) for gs in op_groups.values()) / 1000
    op_wall = sum(s.t1 - s.t0 for s in top)
    n = max(n_ops, 1)
    total = {
        "sources.grid.calls": len(by_layer["sources.grid"]),
        "sources.grid.s": secs("sources.grid"),
        "sources.grid.rows": sum(s.counts.get("rows", 0) for s in by_layer["sources.grid"]),
        "transforms.s": secs("transforms"),
        "operators.integrity.s": secs("operators.integrity"),
        "operators.integrity.jobs": jobs("operators.integrity"),
        "sinks.s": secs("sinks"),
        "sinks.jobs": jobs("sinks"),
        "sinks.files": sum(s.counts.get("files", 0) for s in by_layer["sinks"]),
        "sinks.mb": sum(s.counts.get("bytes", 0) for s in by_layer["sinks"]) / 1e6,
        "pipeline.self_s": pipeline_self,
        "pipeline.jobs": jobs("pipeline"),
        "sources.tables.calls": len(by_layer["sources.tables"]),
        "sources.tables.s": secs("sources.tables"),
        "sources.tables.jobs": jobs("sources.tables"),
        "plans.build_s": secs("plans") - child_secs("plans", "sources.tables"),
        "plans.build_jobs": jobs("plans"),
        "spark.exec_s": exec_s,
        "spark.jobs": sum(len(g.jobs) for g in all_groups),
        "spark.stages": sum(g.stages for g in all_groups),
        "spark.tasks": sum(g.tasks for g in all_groups),
        "spark.task_s": sum(g.task_ms for g in all_groups) / 1000,
        "spark.shuffle_mb": sum(g.shuffle_bytes for g in all_groups) / 1e6,
        "spark.spill_mb": sum(g.spill_bytes for g in all_groups) / 1e6,
        "spark.gc_s": sum(g.gc_ms for g in all_groups) / 1000,
        "driver.idle_s": op_wall - exec_s,
    }
    return {k: v / n for k, v in total.items()}
