"""Spans around the engine's layers, recorded from the benchmark's side.

``Tracer.wrap`` replaces a public function with a wrapper, under the name
its caller looks it up by (``operators.refinement.triangles`` is what
``run_wcc`` calls), so no engine file changes.  Each wrapper records a
span (layer, start, end, parent, op) and tags the Spark jobs it starts
with ``SparkContext.addJobTag``.  After the run, every job is charged to
the innermost span whose tag it carries, which gives each layer its self
time, jobs, tasks and the driver time between its jobs.

Spans stay in memory; ``Tracer.dump`` writes them out at exit.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
import uuid
from dataclasses import asdict, dataclass, field

from sparkstats import clip, union_length

# (module, attribute, layer).  A layer is a module of the engine; a
# function that several modules import is wrapped under every name its
# callers use.
LAYERS = [
    ("community_detection_flink_spark.sources.edges", "symmetrize_edges", "sources.edges"),
    ("community_detection_flink_spark.operators.incremental", "symmetrize_edges", "sources.edges"),
    ("community_detection_flink_spark.operators.refinement", "run_wcc", "pipeline"),
    ("community_detection_flink_spark.operators.incremental", "run_wcc", "pipeline"),
    ("community_detection_flink_spark.operators.refinement", "triangles", "triangles"),
    ("community_detection_flink_spark.operators.incremental", "triangles", "triangles"),
    ("community_detection_flink_spark.operators.refinement", "preprocess", "preprocess"),
    ("community_detection_flink_spark.operators.incremental", "preprocess", "preprocess"),
    ("community_detection_flink_spark.operators.refinement", "initial_partition", "partition"),
    ("community_detection_flink_spark.operators.incremental", "initial_partition", "partition"),
    ("community_detection_flink_spark.operators.refinement", "refine_partition", "refinement"),
    ("community_detection_flink_spark.operators.incremental", "prepare", "incremental.prepare"),
    ("community_detection_flink_spark.operators.incremental", "incremental_update", "incremental.update"),
    ("community_detection_flink_spark.operators.incremental", "incremental_delete", "incremental.delete"),
    ("community_detection_flink_spark.streaming.incremental_stream", "apply_cdc_batch", "streaming.batch"),
    ("community_detection_flink_spark.plans.iteration.Materializer", "__call__", "iteration.landing"),
]
LAYER_NAMES = list(dict.fromkeys(layer for _, _, layer in LAYERS))
LAYER_METRICS = [
    ("wall_s", "s"), ("self_s", "s"), ("calls", "count"), ("jobs", "count"),
    ("tasks", "count"), ("task_s", "s"), ("shuffle_write_mb", "MB"),
    ("driver_gap_s", "s"), ("landings", "count"),
]
# Metrics that read 0 on every run of both workloads are not reported:
# ``sources.edges`` and ``preprocess`` only build query plans and run no
# Spark job of their own (their driver gap is all of their self time),
# ``triangles`` and ``streaming.batch`` land nothing themselves, and the
# jobs ``streaming.batch`` runs itself shuffle nothing.
UNREPORTED = {
    f"{layer}.{m}" for layer in ("sources.edges", "preprocess")
    for m in ("jobs", "tasks", "task_s", "shuffle_write_mb", "driver_gap_s", "landings")
} | {"triangles.landings", "streaming.batch.landings", "streaming.batch.shuffle_write_mb"}


@dataclass
class Span:
    id: int
    layer: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    tag: str = ""
    info: dict = field(default_factory=dict)


class Tracer:
    """Records op windows, and layer spans once ``wrap_layers`` ran.

    Without the wrappers only ops are recorded (their window and job
    tag), which is all the untraced run needs for per-op job counts.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self.op_name = "setup"
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        # tags outlive the tracer in Spark's job records: keep them unique
        # per tracer so two tracers on one SparkContext never share one
        self._tag_prefix = f"bench-{uuid.uuid4().hex[:12]}"
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, layer: str, ops: bool = False) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        span = Span(sid, layer, self.op_name, stack[-1].id if stack else None,
                    0.0, tag=f"{self._tag_prefix}-{sid}")
        (self.ops if ops else self.spans).append(span)
        stack.append(span)
        self.sc.addJobTag(span.tag)
        self.overhead_s += time.perf_counter() - t0
        span.start = time.time()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        t0 = time.perf_counter()
        self.sc.removeJobTag(span.tag)
        self._stack().pop()
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, name: str):
        """Around one benchmark op (recorded with or without wrappers)."""
        self.op_name = name
        span = self._open("op", ops=True)
        try:
            yield span
        finally:
            self._close(span)
            self.op_name = "between-ops"

    def wrap_layers(self) -> None:
        """Install a wrapper at every name in ``LAYERS``."""
        import importlib

        for owner_path, attr, layer in LAYERS:
            mod_path, _, cls = owner_path.rpartition(".")
            try:
                owner = importlib.import_module(owner_path)
            except ModuleNotFoundError:
                owner = getattr(importlib.import_module(mod_path), cls)
            self._wrap(owner, attr, layer)

    def _wrap(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer._open(layer)
            try:
                out = orig(*args, **kwargs)
                if layer == "refinement":
                    # refine_partition returns (..., rounds) and appends
                    # the initial and every accepted round's WCC to history
                    span.info = {"rounds": out[-1],
                                 "accepted": len(kwargs.get("history") or [0]) - 1}
                return out
            finally:
                tracer._close(span)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"ops": [asdict(s) for s in self.ops],
                       "spans": [asdict(s) for s in self.spans]}, f)

    # -- analysis ----------------------------------------------------
    def op_jobs(self, op: Span, jobs) -> list:
        """Jobs started inside ``op``: those carrying its tag, or, for an
        op whose jobs run on a streaming query's thread (where the tag
        does not reach), those in the query run's job group."""
        group = op.info.get("group")
        return [j for j in jobs.values()
                if op.tag in j.tags or (group is not None and j.group == group)]

    def op_job_counts(self, jobs) -> dict[str, int]:
        return {op.op: len(self.op_jobs(op, jobs)) for op in self.ops}

    def coverage(self) -> list[float]:
        """Per op: share of its wall time covered by layer spans."""
        out = []
        for op in self.ops:
            spans = [(s.start, s.end) for s in self.spans if s.op == op.op]
            wall = op.end - op.start
            out.append(union_length(clip(spans, op.start, op.end)) / wall if wall else 0.0)
        return out

    def layer_metrics(self, jobs) -> dict[str, float]:
        """``<layer>.<metric>`` over every span of the run, plus the
        refinement loop's round counts."""
        by_id = {s.id: s for s in self.spans}
        by_tag = {s.tag: s for s in self.spans}
        depth: dict[int, int] = {}

        def _depth(s: Span) -> int:
            if s.id not in depth:
                p = by_id.get(s.parent) if s.parent else None
                depth[s.id] = 0 if p is None else _depth(p) + 1
            return depth[s.id]

        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent in by_id:
                children.setdefault(s.parent, []).append(s)

        own_jobs: dict[int, list] = {}
        for j in jobs.values():
            mine = [by_tag[t] for t in j.tags if t in by_tag]
            if mine:
                own_jobs.setdefault(max(mine, key=_depth).id, []).append(j)
        job_iv = [(j.start, j.end) for j in jobs.values()]

        m = {f"{layer}.{name}": 0.0 for layer in LAYER_NAMES for name, _ in LAYER_METRICS}
        rounds = accepted = 0
        for s in self.spans:
            if s.info:
                rounds += s.info["rounds"]
                accepted += s.info["accepted"]
            p = f"{s.layer}."
            dur = s.end - s.start
            kids = [(c.start, c.end) for c in children.get(s.id, [])]
            m[p + "calls"] += 1
            m[p + "self_s"] += dur - union_length(clip(kids, s.start, s.end))
            anc = by_id.get(s.parent)
            while anc is not None and anc.layer != s.layer:
                anc = by_id.get(anc.parent)
            if anc is None:  # outermost span of its layer: no double count
                m[p + "wall_s"] += dur
            for j in own_jobs.get(s.id, []):
                m[p + "jobs"] += 1
                m[p + "tasks"] += j.tasks
                m[p + "task_s"] += j.task_s
                m[p + "shuffle_write_mb"] += j.shuffle_write_mb
            for lo, hi in _gaps(s.start, s.end, kids):
                m[p + "driver_gap_s"] += (hi - lo) - union_length(clip(job_iv, lo, hi))
            if s.layer == "iteration.landing":
                m[p + "landings"] += 1
                owner = by_id.get(s.parent)
                if owner is not None:
                    m[f"{owner.layer}.landings"] += 1
        m["refinement.rounds"] = rounds
        m["refinement.accepted_frac"] = accepted / rounds if rounds else 0.0
        return {k: v for k, v in m.items() if k not in UNREPORTED}


def _gaps(lo: float, hi: float, intervals):
    """``[lo, hi]`` minus the union of ``intervals``."""
    out, cur = [], lo
    for s, e in sorted(clip(intervals, lo, hi)):
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < hi:
        out.append((cur, hi))
    return out
