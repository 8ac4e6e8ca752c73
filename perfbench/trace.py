"""Spans, Spark job groups and per-layer capture for the traced run.

A span is opened around each public call and each forced layer prefix. It
records name, start, end, parent and run id in memory, and runs its Spark
jobs under a job group of its own, so Spark's status store can say per
span how many jobs ran and what their tasks cost. Only the traced run
uses this module.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SPARK_KEYS = ("spark_jobs", "task_s", "shuffle_bytes", "spill_bytes", "failed_tasks")


@dataclass
class Span:
    name: str
    parent: str | None
    run_id: str
    group: str
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark: SparkSession, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stage_metrics: dict[str, dict[str, float]] | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{len(self.spans)}/{name}"
        s = Span(name, parent.name if parent else None, self.run_id, group, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def current(self) -> str:
        return self._stack[-1].name

    def find(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def spark_metrics(self) -> dict[str, dict[str, float]]:
        """Per span group: jobs, task seconds, shuffle write, spill, failed
        tasks. A stage reused by a later job counts for the first span
        that ran it."""
        if self._stage_metrics is not None:
            return self._stage_metrics
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        seen: set[int] = set()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            m = dict.fromkeys(SPARK_KEYS, 0)
            for job in sorted(tracker.getJobIdsForGroup(s.group)):
                m["spark_jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in sorted(info.stageIds) if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # a stage skipped before it ever ran
                        continue
                    m["task_s"] += st.executorRunTime() / 1000.0
                    m["shuffle_bytes"] += st.shuffleWriteBytes()
                    m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    m["failed_tasks"] += st.numFailedTasks()
            out[s.group] = m
        self._stage_metrics = out
        return out

    def totals(self, prefix: str) -> dict[str, float]:
        """Spark metrics summed over the spans :meth:`find` returns."""
        metrics = self.spark_metrics()
        total = dict.fromkeys(SPARK_KEYS, 0)
        for s in self.find(prefix):
            for k, v in metrics[s.group].items():
                total[k] += v
        return total

    def dump(self, path: str) -> None:
        metrics = self.spark_metrics()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "name": s.name,
                    "parent": s.parent,
                    "run_id": s.run_id,
                    "start": s.start,
                    "end": s.end,
                    **s.counts,
                    **metrics.get(s.group, {}),
                }
                f.write(json.dumps(rec) + "\n")


class Capture:
    """Records the DataFrames that named library functions return.

    ``layers`` maps a layer name to ``(module, function name)`` pairs. While
    active, each listed function is wrapped so that its result is kept
    under its layer, in call order. Calls made from inside another captured
    call are not recorded, so a layer holds only what the caller saw.
    """

    def __init__(self, layers: dict[str, list[tuple[object, str]]]):
        self.layers = layers
        self.frames: dict[str, list[DataFrame]] = {name: [] for name in layers}
        self._saved: list[tuple[object, str, object]] = []
        self._depth = 0

    def _wrap(self, layer: str, fn):
        def wrapped(*args, **kwargs):
            self._depth += 1
            try:
                out = fn(*args, **kwargs)
            finally:
                self._depth -= 1
            if self._depth == 0 and isinstance(out, DataFrame):
                self.frames[layer].append(out)
            return out

        return wrapped

    def __enter__(self) -> Capture:
        for layer, targets in self.layers.items():
            for module, name in targets:
                fn = getattr(module, name)
                self._saved.append((module, name, fn))
                setattr(module, name, self._wrap(layer, fn))
        return self

    def __exit__(self, *exc) -> None:
        for module, name, fn in reversed(self._saved):
            setattr(module, name, fn)
        self._saved.clear()


@contextlib.contextmanager
def patched(module: object, name: str, make_wrapper):
    """Temporarily replace ``module.name`` with ``make_wrapper(original)``."""
    original = getattr(module, name)
    setattr(module, name, make_wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def force(df: DataFrame) -> int:
    """Materialize ``df`` into the cache and return its row count, so that
    later layers read it instead of recomputing it."""
    return df.persist().count()
