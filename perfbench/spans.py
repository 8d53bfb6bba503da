"""Traced mode: spans around the program's layers, from outside it.

``Tracer.install()`` replaces the public functions of each layer with
wrappers, at the name the program looks them up by:

- ``autolink`` binds ``clean_columns``, ``cluster_at_threshold`` and
  ``information_gain_power_ratio`` at import, so those are patched in
  ``autolink``'s namespace (``incremental`` likewise binds
  ``connected_components``);
- the other layers are resolved at call time (``blocking_mod.X``,
  function-local imports, methods), so they are patched on their
  defining module or class.

Each wrapper opens a span: it sets a Spark job group unique to the span
on entry and restores the outer group on exit, so every job is
attributed to the innermost open span. Spans (name, start, end, parent,
pass id) are kept in memory and written out when the run ends. Job,
task, task-second and shuffle figures come from Spark's event log,
keyed by job group (``parse_event_log``).

The layers are lazy: a span's time is the Spark work that ran during
that call, not the work its result will cause. ``model.predict``
returns a plan; its pair generation runs later, inside
``cluster.cluster_at_threshold``. A layer's ``wall_s`` is self time:
the span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_id: int | None
    start: float
    end: float = 0.0
    result: object = None

    def as_dict(self) -> dict:
        return {
            "sid": self.sid, "name": self.name, "parent": self.parent,
            "pass": self.pass_id, "start": self.start, "end": self.end,
        }


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` is False for untraced runs
    and for the untraced steady units of a traced run: wrappers then
    call straight through."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    pass_id: int | None = None
    _stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str) -> Span | None:
        if not self.enabled or self.sc is None:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self.pass_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
        self.sc.setLocalProperty("spark.job.description", name)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()
        outer = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"{GROUP_PREFIX}{outer.sid}" if outer else None
        )
        self.sc.setLocalProperty(
            "spark.job.description", outer.name if outer else None
        )

    # ---------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, *, keep_result: bool = False):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if s is not None and keep_result:
                    s.result = out
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every traced layer (see the module docstring)."""
        from pyspark.sql.readwriter import DataFrameWriter

        from auto_data_linkage_spark import (
            autolink, blocking, cluster, incremental, linking, model, tpe,
        )
        from auto_data_linkage_spark.operators import bpe, pack

        self.wrap(autolink, "clean_columns", "cleaning.clean_columns")
        self.wrap(autolink, "cluster_at_threshold", "cluster.cluster_at_threshold")
        self.wrap(autolink, "information_gain_power_ratio",
                  "metrics.information_gain_power_ratio")
        self.wrap(blocking, "generate_blocking_rules",
                  "blocking.generate_blocking_rules", keep_result=True)
        self.wrap(model.FellegiSunterModel, "estimate_u", "model.estimate_u")
        self.wrap(model.FellegiSunterModel, "estimate_m_em",
                  "model.estimate_m_em", keep_result=True)
        self.wrap(model.FellegiSunterModel, "predict", "model.predict")
        self.wrap(cluster, "connected_components", "cluster.connected_components")
        self.wrap(incremental, "connected_components", "cluster.connected_components")
        self.wrap(tpe.TPESampler, "suggest", "tpe.suggest")
        self.wrap(linking, "align_for_linking", "linking.align_for_linking")
        self.wrap(incremental, "incremental_assign", "incremental.incremental_assign")
        self.wrap(incremental, "apply_increment", "incremental.apply_increment")
        self.wrap(bpe, "train_bpe", "bpe.train_bpe")
        self.wrap(pack, "write_shards", "pack.write_shards")
        self._wrap_stage_writes(DataFrameWriter)
        self._wrap_report_counts()

    def _wrap_stage_writes(self, writer_cls) -> None:
        """A pipeline stage is attributed through its ``_stages/<name>``
        parquet write: the write is where the stage's lazy plan runs."""
        orig = writer_cls.parquet
        tracer = self

        @functools.wraps(orig)
        def parquet(self_, path, *args, **kwargs):
            if not (isinstance(path, str) and "/_stages/" in path.replace(os.sep, "/")):
                return orig(self_, path, *args, **kwargs)
            with tracer.span("pipeline." + path.rstrip("/").rsplit("/", 1)[-1]):
                return orig(self_, path, *args, **kwargs)

        self._patched.append((writer_cls, "parquet", orig))
        writer_cls.parquet = parquet

    def _wrap_report_counts(self) -> None:
        """``pipeline.report``: the standalone ``count()`` jobs issued
        directly from ``prepare_training_set``'s body."""
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame.count
        tracer = self

        @functools.wraps(orig)
        def count(self_):
            if sys._getframe(1).f_code.co_name != "prepare_training_set":
                return orig(self_)
            with tracer.span("pipeline.report"):
                return orig(self_)

        self._patched.append((DataFrame, "count", orig))
        DataFrame.count = count

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


# --------------------------------------------------------------- event log
@dataclass
class JobStats:
    group: str | None
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0


def parse_event_log(log_dir: str) -> list[JobStats]:
    """Jobs from every Spark event log under ``log_dir``: job group,
    task count, executor run seconds and shuffle bytes (read + written)
    of the stages each job ran. A stage is charged to the first job that
    lists it; later jobs that reuse it skip it."""
    jobs: dict[tuple[str, int], JobStats] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_job: dict[int, tuple[str, int]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (path, ev["Job ID"])
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[key] = JobStats(group)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get(ev.get("Stage ID"))
                    if key is None:
                        continue
                    js = jobs[key]
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    js.tasks += 1
                    js.task_s += m.get("Executor Run Time", 0) / 1000.0
                    js.shuffle_bytes += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
    return list(jobs.values())


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span never overlap: spans open and close on one thread)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}


def jobs_by_span(jobs: list[JobStats]) -> dict[int, list[JobStats]]:
    out: dict[int, list[JobStats]] = defaultdict(list)
    for j in jobs:
        if j.group and j.group.startswith(GROUP_PREFIX):
            out[int(j.group[len(GROUP_PREFIX):])].append(j)
    return out


def subtree(spans: list[Span], root: int) -> set[int]:
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.sid)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out
