"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files around calls into the
program's public functions: `instrument()` replaces a module or class
attribute with a wrapper and `restore()` puts the original back. The
program is never edited.

Spark evaluates lazily, so a span around a call that returns a DataFrame
would time only plan construction. Every wrapped call therefore
materializes its DataFrame outputs (`localCheckpoint(eager=True)`) inside
its span. Each span also runs under its own Spark job group, so the jobs,
stages and tasks Spark ran inside it can be read back from
`sparkContext.statusTracker()` when the run ends.

Spans are kept in memory; `write()` dumps them as JSON lines at the end.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._work: dict[int, tuple[int, int, int]] = {}

    # ------------------------------------------------------------ spans
    def _group(self, span: dict | None) -> str | None:
        return None if span is None else f"{self.run_id}.{span['id']}"

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "layer": layer,
            "parent": None if parent is None else parent["id"],
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, self._group(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, self._group(parent))

    def count(self, key: str, value: float) -> None:
        self.counts[key] += value

    # ------------------------------------------------------ instrumenting
    def instrument(
        self, owner, attr: str, layer, on_result=None, force: bool = True
    ):
        """Wrap `owner.attr` in a span of `layer` (a name, or a function of
        the call's args returning one). With `force`, its DataFrame outputs
        are materialized inside the span; pass False for functions that
        already write their output. `on_result(out, args, kwargs)` runs
        inside a `trace` child span, so the counting jobs it launches are
        billed to no layer."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            lay = layer(args) if callable(layer) else layer
            with self.span(f"{lay}:{attr}", lay):
                out = orig(*args, **kwargs)
                if force:
                    out = materialize(out)
                if on_result is not None:
                    with self.span(f"trace:{attr}", "trace"):
                        on_result(out, args, kwargs)
            return out

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set `owner.attr = new` until `restore()`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ results
    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover
        (children of one span run one after another on this thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return [
            (s["end"] - s["start"]) - child_time[s["id"]] for s in self.spans
        ]

    def spark_work(self, span: dict) -> tuple[int, int, int]:
        """(jobs, stages, tasks) that Spark ran under this span's own job
        group, children excluded. Read once the span has ended."""
        if span["id"] not in self._work:
            self._work[span["id"]] = self._read_work(span)
        return self._work[span["id"]]

    def _read_work(self, span: dict) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group(span))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for st in stages:
            info = tracker.getStageInfo(st)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), len(stages), tasks

    def subtree(self, root: dict) -> list[dict]:
        """`root` and every span below it."""
        keep = {root["id"]}
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in keep:
                keep.add(s["id"])
        return [self.spans[i] for i in sorted(keep)]

    def layer_totals(self, root: dict) -> dict[str, dict[str, float]]:
        """layer -> busy_s (summed self time) and the Spark jobs, stages
        and tasks of its spans, over the subtree of `root`."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"busy_s": 0.0, "spark_jobs": 0, "spark_stages": 0,
                     "spark_tasks": 0, "spans": 0}
        )
        self_times = self.self_times()
        for s in self.subtree(root):
            jobs, stages, tasks = self.spark_work(s)
            self_s = self_times[s["id"]]
            t = out[s["layer"]]
            t["busy_s"] += self_s
            t["spark_jobs"] += jobs
            t["spark_stages"] += stages
            t["spark_tasks"] += tasks
            t["spans"] += 1
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                jobs, stages, tasks = self.spark_work(s)
                f.write(json.dumps({**s, "spark_jobs": jobs,
                                    "spark_stages": stages,
                                    "spark_tasks": tasks}) + "\n")


def materialize(out):
    """Force every DataFrame in `out` (a DataFrame or a tuple of them)."""
    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(materialize(o) for o in out)
    return out
