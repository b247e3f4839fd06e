"""Span tracing for the pipeline benchmark, recorded from outside the
program: the tracer replaces the module attributes that
``aqueducts_spark.pipeline`` (and the stage builder) look up at call
time with timing wrappers, counts py4j round trips, and afterwards
attributes Spark jobs to spans by submission time using Spark's own
status store (reachable with the UI off).

Layers (the ``layer`` of a span):

* ``config``       load_pipeline (called by the benchmark)
* ``pipeline``     run_pipeline itself (called by the benchmark)
* ``functions``    register_udfs / _compat_functions / _udtfs / _udafs
* ``sources``      register_sources
* ``stages``       process_stage
* ``operators``    run_operator
* ``destinations`` prepare_destination / write_to_destination
* ``delta``        DeltaProtocolTable.append / upsert / replace / read
* ``collect``      the read-back's toArrow (Spark execution seen from the
  driver)

Self time: every instant of a root span is attributed to the innermost
spans active at that instant, split equally between parallel ones, so
the self times of a root's spans sum to its wall time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Optional

# (module, attribute, layer); a class attribute is written "Class.method"
WRAP_TARGETS = [
    ("aqueducts_spark.pipeline", "register_udfs", "functions"),
    ("aqueducts_spark.pipeline", "register_compat_functions", "functions"),
    ("aqueducts_spark.pipeline", "register_udtfs", "functions"),
    ("aqueducts_spark.pipeline", "register_udafs", "functions"),
    ("aqueducts_spark.pipeline", "register_sources", "sources"),
    ("aqueducts_spark.pipeline", "process_stage", "stages"),
    ("aqueducts_spark.pipeline", "prepare_destination", "destinations"),
    ("aqueducts_spark.pipeline", "write_to_destination", "destinations"),
    ("aqueducts_spark.operators.registry", "run_operator", "operators"),
    ("aqueducts_spark.delta.protocol", "DeltaProtocolTable.append", "delta"),
    ("aqueducts_spark.delta.protocol", "DeltaProtocolTable.upsert", "delta"),
    ("aqueducts_spark.delta.protocol", "DeltaProtocolTable.replace", "delta"),
    ("aqueducts_spark.delta.protocol", "DeltaProtocolTable.read", "delta"),
]
PY4J_TARGETS = [
    ("py4j.clientserver", "ClientServerConnection.send_command"),
    ("py4j.java_gateway", "GatewayConnection.send_command"),
]
LAYERS = [
    "config", "pipeline", "functions", "sources", "stages", "operators",
    "destinations", "delta", "collect",
]


@dataclass
class Span:
    layer: str
    label: str
    start_ns: int
    parent: Optional["Span"]
    end_ns: int = 0
    py4j: int = 0  # round trips made while this span was innermost
    self_s: float = 0.0
    jobs: list = field(default_factory=list)  # JobRecord attributed here
    attrs: dict = field(default_factory=dict)

    @property
    def depth(self) -> int:
        d, p = 0, self.parent
        while p is not None:
            d, p = d + 1, p.parent
        return d

    def to_json(self, ids: dict) -> dict:
        return {
            "id": ids[id(self)],
            "parent": ids.get(id(self.parent)) if self.parent else None,
            "layer": self.layer,
            "label": self.label,
            "start_ns": self.start_ns,
            "end_ns": self.end_ns,
            "self_s": self.self_s,
            "py4j": self.py4j,
            "jobs": [j.job_id for j in self.jobs],
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def _resolve(module: str, attr: str):
    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, name


class Tracer:
    """Spans kept in memory; ``install``/``uninstall`` add and remove
    the wrappers so traced and untraced iterations can alternate in one
    process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[Any, str, Any]] = []

    # -- span stack ---------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            # threads of a parallel stage group start under whatever the
            # main thread is running (run_pipeline's pool)
            stack = self._local.stack = (
                self._main_stack
                if threading.current_thread() is threading.main_thread()
                else []
            )
        return stack

    def _parent(self) -> Optional[Span]:
        stack = self._stack()
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    @contextlib.contextmanager
    def span(self, layer: str, label: str = "", **attrs):
        parent = self._parent()
        s = Span(layer, label or layer, time.time_ns(), parent, attrs=attrs)
        with self._lock:
            self.spans.append(s)
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s.end_ns = time.time_ns()
            stack.pop()

    def _count_py4j(self) -> None:
        stack = getattr(self._local, "stack", None) or self._main_stack
        if stack:
            top = stack[-1]
            with self._lock:
                top.py4j += 1

    # -- wrappers -----------------------------------------------------
    def install(self) -> None:
        if self._saved:
            return
        for module, attr, layer in WRAP_TARGETS:
            owner, name = _resolve(module, attr)
            orig = getattr(owner, name)
            self._saved.append((owner, name, orig))
            setattr(owner, name, self._wrap(orig, layer, name))
        for module, attr in PY4J_TARGETS:
            owner, name = _resolve(module, attr)
            orig = getattr(owner, name)
            self._saved.append((owner, name, orig))
            setattr(owner, name, self._wrap_py4j(orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            attrs = {}
            if name == "process_stage":
                stage = args[1] if len(args) > 1 else kwargs["stage"]
                attrs["cached"] = bool(
                    kwargs.get("cache") or stage.eager or stage.explain_analyze
                )
            with tracer.span(layer, name, **attrs):
                return fn(*args, **kwargs)

        return wrapped

    def _wrap_py4j(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(conn, command):
            tracer._count_py4j()
            return fn(conn, command)

        return wrapped

    # -- analysis -----------------------------------------------------
    def subtree(self, root: Span) -> list[Span]:
        out = []
        for s in self.spans:
            p = s
            while p is not None and p is not root:
                p = p.parent
            if p is root:
                out.append(s)
        return out

    def dump(self) -> list[dict]:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        return [s.to_json(ids) for s in self.spans]


def compute_self_times(spans: list[Span], root: Span) -> None:
    """Attribute each instant of ``root`` to the innermost active spans
    (split equally between parallel ones); sets ``self_s``."""
    for s in spans:
        s.self_s = 0.0
    lo, hi = root.start_ns, root.end_ns
    edges = sorted({lo, hi, *(min(max(t, lo), hi) for s in spans
                               for t in (s.start_ns, s.end_ns))})
    for a, b in zip(edges, edges[1:]):
        active = [s for s in spans if s.start_ns <= a and s.end_ns >= b]
        parents = {id(s.parent) for s in active if s.parent is not None}
        leaves = [s for s in active if id(s) not in parents]
        if not leaves:
            continue
        share = (b - a) / 1e9 / len(leaves)
        for s in leaves:
            s.self_s += share


# -- Spark jobs from the status store ---------------------------------

@dataclass
class JobRecord:
    job_id: int
    submitted_ms: int
    stage_ids: list[int]


@dataclass
class StageRecord:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


class JobReader:
    """Reads jobs and stages after the fact from Spark's AppStatusStore
    (``sparkContext._jsc.sc().statusStore()``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def max_job_id(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        ids = self.sc.statusTracker().getJobIdsForGroup()
        return max(ids) if ids else -1

    def jobs_after(self, after_id: int) -> tuple[list[JobRecord], dict[int, StageRecord]]:
        last = self.max_job_id()  # also drains the listener bus
        jobs, stages = [], {}
        for jid in range(after_id + 1, last + 1):
            try:
                jd = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            sub = jd.submissionTime()
            seq = jd.stageIds()
            # a stage belongs to the first job that lists it; later jobs
            # list it again as skipped when they reuse its shuffle output
            sids = [int(seq.apply(i)) for i in range(seq.size())]
            sids = [sid for sid in sids if sid not in stages]
            jobs.append(JobRecord(jid, sub.get().getTime() if sub.isDefined() else 0, sids))
            for sid in sids:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:
                    stages[sid] = StageRecord()
                    continue
                stages[sid] = StageRecord(
                    tasks=sd.numCompleteTasks(),
                    run_ms=sd.executorRunTime(),
                    cpu_ns=sd.executorCpuTime(),
                    gc_ms=sd.jvmGcTime(),
                    shuffle_read=sd.shuffleReadBytes(),
                    shuffle_write=sd.shuffleWriteBytes(),
                    spill=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    input_bytes=sd.inputBytes(),
                    output_bytes=sd.outputBytes(),
                )
        return jobs, stages


def attribute_jobs(spans: list[Span], jobs: list[JobRecord]) -> None:
    """Each job goes to the innermost span active when it was submitted
    (the latest-started one when parallel spans are active)."""
    for job in jobs:
        t = job.submitted_ms * 1_000_000
        # submission times are truncated to the millisecond
        active = [s for s in spans if s.start_ns - 1_000_000 < t <= s.end_ns]
        if active:
            best = max(active, key=lambda s: (s.depth, s.start_ns))
            best.jobs.append(job)


def stage_totals(jobs: list[JobRecord], stages: dict[int, StageRecord]) -> StageRecord:
    """Sum of stage metrics over the stages of ``jobs``."""
    out = StageRecord()
    for job in jobs:
        for sid in job.stage_ids:
            st = stages[sid]
            for f in out.__dataclass_fields__:
                setattr(out, f, getattr(out, f) + getattr(st, f))
    return out
