"""Layer spans for the benchmark's traced run.

A span wraps one call into a layer of ``tagminder_spark``.  While it is
open, every Spark job the call launches runs under the span's own job
group; when it closes, the group's stages are read back from the
application status store, so the counters are those of the layer's own
work.  A layer returns lazy DataFrames, so the workload forces its output
at the span boundary (:meth:`Tracer.boundary`) — otherwise the layer's work
would run inside whichever span consumed it next.

Spans are kept in memory and written out once, when the run ends.
:class:`NullTracer` has the same interface and does nothing: the
untraced runs that give the end-to-end metrics use it.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: The layers a span may name, in the order the per-layer metrics list them.
LAYERS = (
    "session",
    "sources.catalog",
    "sources.export",
    "pipeline",
    "operators.diff_audit",
    "operators.table_manifest",
    "operators.er_merge",
    "operators.dedupe",
    "operators.components",
)

#: Counters every layer reports (summed over the layer's spans), with units.
LAYER_FIELDS = {
    "self_s": "s",
    "stages": "count",
    "tasks": "count",
    "cpu_s": "s",
    "core_busy": "ratio",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
}


@dataclass
class Span:
    layer: str
    group: str
    iteration: int
    start: float
    end: float = 0.0
    rows_out: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if k != "extra"}
        d.update(self.extra)
        d["wall_s"] = self.wall_s
        return d


class NullTracer:
    """The untraced path: no job groups, no counters, and boundaries that
    only truncate the plan (the layer's work runs in its consumer's job,
    as it does for any caller that checkpoints between operators)."""

    enabled = False

    @contextmanager
    def span(self, layer: str):
        yield Span(layer, "", 0, 0.0)

    def boundary(self, span: Span, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False)


class Tracer:
    """Records one :class:`Span` per layer call, with Spark counters."""

    enabled = True

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.iteration = 0

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        sp = Span(layer, f"perfbench-{len(self.spans)}", self.iteration,
                  time.perf_counter())
        self.sc.setJobGroup(sp.group, layer, interruptOnCancel=False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._clear_group()
            self._read_counters(sp)
            self.spans.append(sp)

    def boundary(self, span: Span, df: DataFrame) -> DataFrame:
        """Materialize ``df`` inside the open span and record its row
        count; the count itself runs outside the span's job group."""
        out = df.localCheckpoint(eager=True)
        self._clear_group()
        span.rows_out += out.count()
        self.sc.setJobGroup(span.group, span.layer, interruptOnCancel=False)
        return out

    def _clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _read_counters(self, sp: Span) -> None:
        jsc = self.sc._jsc.sc()
        # the status store is filled by an asynchronous listener: wait
        # until it has seen every event of the span's jobs
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(sp.group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        sp.jobs = len(jobs)
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # a stage skipped in every job has no attempt
                continue
            if str(sd.status().toString()) != "COMPLETE":
                continue
            sp.stages += 1
            sp.tasks += sd.numCompleteTasks()
            sp.run_s += sd.executorRunTime() / 1e3
            sp.cpu_s += sd.executorCpuTime() / 1e9
            sp.shuffle_write_bytes += sd.shuffleWriteBytes()
            sp.spill_bytes += sd.diskBytesSpilled()


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer counters: each layer's spans are summed within an
    iteration, and the median over iterations is reported.  A layer the
    workload never calls reports zeros."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        per_iter = [
            _sum_counters(mine, cores)
            for mine in by_iteration(spans, layer).values()
        ] or [_sum_counters([], cores)]
        for f in (*LAYER_FIELDS, "jobs"):
            out[f"{layer}.{f}"] = statistics.median(p[f] for p in per_iter)
    return out


def by_iteration(spans: list[Span], layer: str) -> dict[int, list[Span]]:
    """The spans of ``layer``, grouped by iteration."""
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.layer == layer:
            out.setdefault(s.iteration, []).append(s)
    return out


def per_iteration(spans: list[Span], layer: str, fn) -> float:
    """Median over iterations of ``fn(spans of one iteration)``; 0 when
    the layer was never called."""
    vals = [fn(mine) for mine in by_iteration(spans, layer).values()]
    return statistics.median(vals) if vals else 0.0


def _sum_counters(mine: list[Span], cores: int) -> dict[str, float]:
    wall = sum(s.wall_s for s in mine)
    run_s = sum(s.run_s for s in mine)
    return {
        "self_s": wall,
        "stages": sum(s.stages for s in mine),
        "tasks": sum(s.tasks for s in mine),
        "cpu_s": sum(s.cpu_s for s in mine),
        "core_busy": run_s / (wall * cores) if wall > 0 else 0.0,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in mine) / 1e6,
        "spill_mb": sum(s.spill_bytes for s in mine) / 1e6,
        "rows_out": sum(s.rows_out for s in mine),
        "jobs": sum(s.jobs for s in mine),
    }
