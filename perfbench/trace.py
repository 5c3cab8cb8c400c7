"""Spans around the calls into each layer, measured from outside the
engine.

A span tags every Spark job started inside it with its own job group,
so after the traced call the job, stage and task counts come from
``sc.statusTracker()`` and the per-stage shuffle, spill and task CPU
from the JVM status store (``statusStore().lastStageAttempt``), which
is populated even with ``spark.ui.enabled=false``. Python-worker CPU
comes from /proc snapshots at the span boundaries. Nothing is read
from Spark inside the span, so the only cost on the clock is setting
the job group and two /proc scans.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field

from perfbench import procfs


@dataclass
class Span:
    name: str
    group: str
    wall_s: float
    py_cpu_s: float
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    sc: object
    spans: "list[Span]" = field(default_factory=list)
    flags: "dict[str, int]" = field(default_factory=dict)
    # wall spent in the tracer's own bookkeeping inside traced calls:
    # what tracing adds to the clock
    overhead_s: float = 0.0

    def __post_init__(self) -> None:
        self._seq = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        group = f"{name}#{next(self._seq)}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        py0 = procfs.python_worker_cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            py1 = procfs.python_worker_cpu_s()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self.spans.append(Span(name, group, t1 - t0, py1 - py0))
            self.overhead_s += (t0 - b0) + (time.perf_counter() - t1)

    def collect(self) -> "list[Span]":
        """Fill every span's Spark counters. Call after the traced work
        has finished; waits until the status store has seen every event."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(sp.group)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                stage_ids.update(info.stageIds if info else ())
            sp.jobs = len(jobs)
            for sid in stage_ids:
                st = _last_attempt(store, sid)
                if st is None:
                    continue
                sp.tasks += st.numCompleteTasks()
                sp.cpu_s += st.executorCpuTime() / 1e9
                sp.shuffle_bytes += st.shuffleWriteBytes()
                sp.spill_bytes += st.diskBytesSpilled()
        return self.spans

    def totals(self, prefix: str) -> "dict[str, float]":
        """Sums over the spans whose name is ``prefix``."""
        out = {"wall_s": 0.0, "py_cpu_s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for sp in self.spans:
            if sp.name == prefix:
                for k in out:
                    out[k] += getattr(sp, k)
        return out


def _last_attempt(store, stage_id: int):
    """The status store's last attempt of a stage, or None when the
    store no longer (or never) held it."""
    from py4j.protocol import Py4JJavaError

    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None


@contextlib.contextmanager
def resolve_hooks(tracer: Tracer):
    """Wrap the public entry points of each resolve() stage for the
    duration of the block: ``_assign_int_ids`` (normalize),
    ``StageCheckpointer.run`` (blocking, pairs, scoring, clustering),
    and record which size-gated branch scoring and clustering took."""
    from pseudopeople_spark import checkpoint
    from pseudopeople_spark.linkage import pipeline, refine, scoring

    orig_run = checkpoint.StageCheckpointer.run
    orig_ids = pipeline._assign_int_ids
    orig_ipc = scoring.ArrowIpcLookup
    orig_local = refine.local_cluster_and_refine
    tracer.flags.update(ipc_lookup=0, local_path=0)

    def run(self, stage, df_fn, upstream=None, kpis_fn=None):
        with tracer.span(f"linkage.{stage}"):
            return orig_run(self, stage, df_fn, upstream, kpis_fn)

    def assign_int_ids(*args, **kwargs):
        with tracer.span("linkage.normalize"):
            return orig_ids(*args, **kwargs)

    def ipc_lookup(table):
        # a function returning the original class keeps the object the
        # scoring closure pickles importable on the workers
        tracer.flags["ipc_lookup"] = 1
        return orig_ipc(table)

    def local_cluster_and_refine(*args, **kwargs):
        tracer.flags["local_path"] = 1
        return orig_local(*args, **kwargs)

    checkpoint.StageCheckpointer.run = run
    pipeline._assign_int_ids = assign_int_ids
    scoring.ArrowIpcLookup = ipc_lookup
    refine.local_cluster_and_refine = local_cluster_and_refine
    try:
        yield tracer
    finally:
        checkpoint.StageCheckpointer.run = orig_run
        pipeline._assign_int_ids = orig_ids
        scoring.ArrowIpcLookup = orig_ipc
        refine.local_cluster_and_refine = orig_local
