"""Outside-in per-layer trace of one pipeline run.

The benchmark wraps the program's public functions as its entry modules see
them and times each call as a span; nothing inside the program changes.

- Leaf layers: every function that ``plans/pipeline.py`` imports from
  ``osmcoastline_spark.operators.<module>`` (the layer is ``<module>``),
  and ``CheckpointSink.write``/``read``/``write_meta`` (layer ``sinks``).
- Nesting layers: ``cli.main`` (``cli``), ``run_checkpointed``
  (``checkpointed``) and ``run_pipeline`` (``pipeline``, both the binding in
  ``plans/checkpointed.py`` and the module attribute ``cli.main`` imports).
  A nesting layer's self time is its wall minus the part of it that its
  direct child spans cover.

Each span sets its own Spark job group on the calling thread and restores
the previous one on exit. After the run, the jobs of each group, their
stages' executor CPU time and shuffle bytes are read from the Spark status
store. If the store cannot be read the trace raises; it never reports
zeros in place of a reading.

Two attribution rules follow from timing calls from outside:

- Jobs started on ``run_concurrently`` pool threads outside a wrapped call
  carry no job group (pool threads do not inherit it) and land in the
  ``unattributed`` layer.
- An operator that returns a lazy DataFrame does its Spark work when its
  caller runs an action, so that work lands in the caller's self time and
  jobs.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import dataclass

OPERATOR_PREFIX = "osmcoastline_spark.operators."
NESTING = ("cli", "checkpointed", "pipeline")
OPERATORS = (
    "filter", "locations", "rings", "intersections", "antarctica", "close",
    "repair", "polygonize", "questionable", "lines", "split", "water",
)
LAYERS = OPERATORS + ("pipeline", "checkpointed", "sinks", "cli", "unattributed")


@dataclass
class Span:
    sid: str
    layer: str
    parent: str | None
    t0: float
    t1: float = 0.0


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.own_s = 0.0  # time spent in the wrappers themselves
        self._seq = itertools.count()
        self._lock = threading.Lock()
        self._nest: list[str] = []  # open nesting spans (driver main thread)
        self._groups = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _enter(self, layer: str, nesting: bool) -> tuple[Span, str | None]:
        t = time.perf_counter()
        sid = f"perfbench-{next(self._seq)}-{layer}"
        stack = getattr(self._groups, "stack", None)
        if stack is None:
            stack = self._groups.stack = []
        prev = stack[-1] if stack else None
        stack.append(sid)
        self.sc.setJobGroup(sid, layer)
        with self._lock:
            span = Span(sid, layer, self._nest[-1] if self._nest else None, 0.0)
            if nesting:
                self._nest.append(sid)
        span.t0 = time.perf_counter()
        self.own_s += span.t0 - t
        return span, prev

    def _exit(self, span: Span, prev: str | None, nesting: bool) -> None:
        span.t1 = time.perf_counter()
        self._groups.stack.pop()
        if prev is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(prev, prev.rsplit("-", 1)[-1])
        with self._lock:
            if nesting:
                self._nest.remove(span.sid)
            self.spans.append(span)
        self.own_s += time.perf_counter() - span.t1

    def _wrap(self, fn, layer: str, nesting: bool):
        tracer = self

        def traced(*args, **kwargs):
            span, prev = tracer._enter(layer, nesting)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(span, prev, nesting)

        return traced

    def _patch(self, owner, attr: str, layer: str, nesting: bool = False) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self._wrap(original, layer, nesting))

    def install(self) -> None:
        from osmcoastline_spark import cli
        from osmcoastline_spark import sinks
        from osmcoastline_spark.plans import checkpointed, pipeline

        for name, obj in sorted(vars(pipeline).items()):
            module = getattr(obj, "__module__", "") or ""
            if callable(obj) and module.startswith(OPERATOR_PREFIX):
                layer = module[len(OPERATOR_PREFIX):]
                if layer not in OPERATORS:
                    raise RuntimeError(f"pipeline imports {module}, which has no layer")
                self._patch(pipeline, name, layer)
        for attr in ("write", "read", "write_meta"):
            self._patch(sinks.CheckpointSink, attr, "sinks")
        self._patch(pipeline, "run_pipeline", "pipeline", nesting=True)
        self._patch(checkpointed, "run_pipeline", "pipeline", nesting=True)
        self._patch(checkpointed, "run_checkpointed", "checkpointed", nesting=True)
        self._patch(cli, "main", "cli", nesting=True)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------ report
    def _jobs_in(self, first: int, last: int) -> list[tuple[int, str | None, list[int]]]:
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if not first <= jid <= last:
                continue
            group = job.jobGroup()
            stages = job.stageIds()
            out.append((
                jid,
                group.get() if group.isDefined() else None,
                [stages.apply(k) for k in range(stages.size())],
            ))
        return sorted(out)

    def last_job_id(self) -> int:
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def report(self, job_range: tuple[int, int], t0: float, t1: float, cores: int) -> dict:
        """Per-layer metrics for the spans recorded between t0 and t1 and
        the Spark jobs numbered job_range[0] to job_range[1]."""
        store = self.sc._jsc.sc().statusStore()
        jobs = self._jobs_in(*job_range)
        first, last = job_range
        if not jobs or len(jobs) != last - first + 1:
            raise RuntimeError(
                f"status store holds {len(jobs)} of jobs {first}-{last} of the traced run"
            )
        layer_of = {s.sid: s.layer for s in self.spans}
        owner: dict[int, str] = {}  # stage id -> layer of the first job using it
        job_count = dict.fromkeys(LAYERS, 0)
        for _jid, group, stages in jobs:
            if group is not None and group not in layer_of:
                raise RuntimeError(f"job group {group!r} belongs to no span")
            layer = layer_of.get(group, "unattributed")
            job_count[layer] += 1
            for sid in stages:
                owner.setdefault(sid, layer)
        cpu = dict.fromkeys(LAYERS, 0.0)
        shuffle = dict.fromkeys(LAYERS, 0.0)
        run_ms = 0.0
        for sid, layer in owner.items():
            st = store.lastStageAttempt(sid)  # raises if the stage is gone
            cpu[layer] += st.executorCpuTime() / 1e9
            shuffle[layer] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
            run_ms += st.executorRunTime()

        wall = dict.fromkeys(LAYERS, 0.0)
        self_s = dict.fromkeys(NESTING, 0.0)
        children: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            wall[s.layer] += s.t1 - s.t0
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.t0, s.t1))
        for s in self.spans:
            if s.layer in NESTING:
                covered = _union(
                    (max(a, s.t0), min(b, s.t1))
                    for a, b in children.get(s.sid, []) if b > s.t0 and a < s.t1
                )
                self_s[s.layer] += s.t1 - s.t0 - covered
        top = [(s.t0, s.t1) for s in self.spans if s.parent is None]
        run_wall = t1 - t0
        wall["unattributed"] = run_wall - _union(top)
        leaf_sum = sum(wall[lay] for lay in LAYERS if lay not in NESTING)
        span_sum = leaf_sum + sum(self_s.values())

        m = {}
        for layer in LAYERS:
            m[f"{layer}.wall_s"] = (wall[layer], "s")
            m[f"{layer}.jobs"] = (job_count[layer], "count")
            m[f"{layer}.exec_cpu_s"] = (cpu[layer], "s")
            m[f"{layer}.shuffle_mb"] = (shuffle[layer], "MiB")
        for layer in NESTING:
            m[f"{layer}.self_s"] = (self_s[layer], "s")
        m["run.wall_s"] = (run_wall, "s")
        m["run.jobs"] = (len(jobs), "count")
        m["run.driver_gap_s"] = (run_wall - run_ms / 1000.0 / cores, "s")
        m["run.span_sum_s"] = (span_sum, "s")
        m["run.overlap_s"] = (span_sum - run_wall, "s")
        m["trace.overhead_pct"] = (100.0 * self.own_s / run_wall, "%")
        return m
