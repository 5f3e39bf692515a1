"""Spans around calls into the engine's layers, attributed to Spark jobs.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, op
id). Every span runs under its own Spark job group, so each job, its
stages and their executor metrics belong to the innermost open span.
Nothing is read back from Spark until :meth:`Tracer.spark_by_group`,
which the harness calls once, after the timed region.

:func:`install_layers` wraps the layers' public functions from outside
the package: each wrapper is re-bound under every name that refers to
the original function in any loaded package module, so a plan module
that did ``from ..sources.catalog import load_table`` calls the wrapper
too. Layer spans record only while ``Tracer.enabled`` is set.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import time
from dataclasses import dataclass, field

PKG = "library_data_warehouse_and_business_analytics_system_spark"

#: operator modules whose public functions each get one span name
OPERATOR_MODULES = ("graph", "dedup", "similarity", "merge")

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part its (sequential) children cover."""
        return self.seconds - self.children_s


class Tracer:
    """In-memory span recorder; one per benchmark run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        #: record layer spans (op spans are always recorded)
        self.enabled = False
        #: time layer spans spent on their own bookkeeping, inside ops
        self.overhead_s = 0.0

    @staticmethod
    def _sc():
        from pyspark import SparkContext
        return SparkContext._active_spark_context

    def _set_group(self, span: Span | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, always: bool = False):
        if not (self.enabled or always):
            yield Span(-1, name, None, self.op, 0.0)
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  self.op, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.seconds
            self._set_group(parent)
            if not always and sp.op is not None:
                self.overhead_s += (sp.start - t_in
                                    + time.perf_counter() - sp.end)

    def spark_by_group(self) -> dict[str, dict]:
        """Per job group: Spark jobs, stages, tasks and executor metrics,
        read from the status store in two bulk JSON calls. A stage that a
        later job reuses (skipped there) counts once, for the first job
        that lists it."""
        sc = self._sc()
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0), None)))
        by_stage: dict[int, dict] = {}
        for st in stages:   # every attempt of a stage counts
            acc = by_stage.setdefault(st["stageId"], {
                "stages": 0, "tasks": 0, "executor_run_ms": 0,
                "executor_cpu_ms": 0.0, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0})
            acc["stages"] += 1
            acc["tasks"] += st["numTasks"]
            acc["executor_run_ms"] += st["executorRunTime"]
            acc["executor_cpu_ms"] += st["executorCpuTime"] / 1e6
            acc["shuffle_read_bytes"] += st["shuffleReadBytes"]
            acc["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            acc["spill_bytes"] += (st["memoryBytesSpilled"]
                                   + st["diskBytesSpilled"])
        out: dict[str, dict] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            g = out.setdefault(job.get("jobGroup") or "", {"jobs": 0})
            g["jobs"] += 1
            for sid in job["stageIds"]:
                for k, v in by_stage.pop(sid, {}).items():
                    g[k] = g.get(k, 0) + v
        return out


# ---------------------------------------------------------------------------
# Layer wrappers


def _layer_targets() -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) for every wrapped public function."""
    import importlib

    def mod(path: str):
        return importlib.import_module(f"{PKG}.{path}")

    gen = mod("generators.library_data")
    targets: list[tuple[object, str, str]] = [
        (mod("session"), "get_spark", "session.get_spark"),
        (gen, "generate", "generators.generate"),
        (gen.LibraryData, "to_spark", "generators.to_spark"),
        (mod("sources.catalog"), "load_table", "sources.catalog.load_table"),
        (mod("pipelines.curation"), "curate_corpus",
         "pipelines.curate_corpus"),
        (mod("plans.library.etl"), "initial_load",
         "plans.library.initial_load"),
    ]
    durable = mod("plans.library.durable")
    for fn in ("publish_warehouse", "read_warehouse",
               "subsequent_load_durable"):
        targets.append((durable, fn, f"plans.library.{fn}"))
    reports = mod("plans.library.reports")
    for fn in ("query1", "query3"):
        targets.append((reports, fn, f"plans.library.{fn}"))
    txlog = mod("sources.txlog")
    for fn in ("tx_write", "tx_merge_parts", "tx_read", "tx_read_parts"):
        targets.append((txlog, fn, f"sources.txlog.{fn}"))
    txmulti = mod("sources.txmulti")
    for fn in ("publish_manifest", "snapshot_current", "read_consistent"):
        targets.append((txmulti, fn, "sources.txmulti"))
    for name in OPERATOR_MODULES:
        m = mod(f"operators.{name}")
        for attr, fn in vars(m).items():
            if (not attr.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == m.__name__):
                targets.append((m, attr, f"operators.{name}"))
    return targets


def _wrap(tracer: Tracer, fn, span_name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)
    return wrapper


def install_layers(tracer: Tracer) -> int:
    """Wrap every layer target for the rest of the process; the spans
    record only while ``tracer.enabled``. Returns the number of names
    re-bound."""
    wrappers: dict[int, tuple[object, object]] = {}
    for owner, attr, span_name in _layer_targets():
        orig = vars(owner)[attr]
        if id(orig) not in wrappers:
            wrappers[id(orig)] = (orig, _wrap(tracer, orig, span_name))
    owners = [m for n, m in list(sys.modules.items())
              if n == PKG or n.startswith(PKG + ".")]
    owners.append(sys.modules[f"{PKG}.generators.library_data"].LibraryData)
    n = 0
    for owner in owners:
        for attr, val in list(vars(owner).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(owner, attr, hit[1])
                n += 1
    return n
