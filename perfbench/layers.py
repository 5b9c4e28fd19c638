"""Per-layer accounting: spans around the engine's public functions and
Spark jobs read back from the status store.

Layers are engine modules. `Tracer.install` wraps every public function
a layer module defines and rebinds it wherever an engine or benchmark
module holds it (`pipeline.empirical_variogram`, `stats.median_bias`,
`curation.DD.minhash_dedup` is the `dedup` module attribute, ...), so
the call sites resolve to the wrapper without any engine change.

Job attribution: while a span is open, the thread's
`spark.jobGroup.id` local property names the op and the span's layer.
Spark copies local properties into every job the thread (or a SQL
execution it starts) submits, so each job lands on the innermost layer
open at its submission. `JobLedger` reads those jobs and their stages
back from the status store after each op.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

LAYERS = {
    "sources": ("sources.pixel_store", "sources.tables"),
    "pipeline": ("pipeline",),
    "align": ("operators.align",),
    "zones": ("operators.zones",),
    "stats": ("operators.stats",),
    "variogram": ("operators.variogram",),
    "fitting": ("operators.fitting",),
    "uncertainty": ("operators.uncertainty",),
    "pointcloud": ("operators.pointcloud",),
    "text": ("extensions.text",),
    "dedup": ("extensions.dedup",),
    "curation": ("extensions.curation",),
}
PKG = "error_analysis_spark"
ROOT = "-"            # group suffix for jobs outside every layer span
GROUP_KEY = "spark.jobGroup.id"


def group_id(op: int, layer: str) -> str:
    return f"perfbench-op{op}:{layer}"


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0   # summed duration of direct child spans

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """Records spans in memory while `op` is set; a no-op otherwise."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[Span] = []
        self._group: str | None = None
        self.op: int | None = None
        self.spans: list[Span] = []
        self._installed: list[tuple] = []

    # -- patching ---------------------------------------------------------
    def install(self) -> None:
        """Wrap each layer's public functions and rebind every engine
        module name that holds one."""
        if not self._installed:
            originals = {}
            for layer, mods in LAYERS.items():
                for m in mods:
                    mod = sys.modules[f"{PKG}.{m}"]
                    for name, fn in vars(mod).items():
                        if (not name.startswith("_")
                                and inspect.isfunction(fn)
                                and fn.__module__ == mod.__name__):
                            originals[id(fn)] = (fn, self._wrap(layer, fn))
            holders = [m for n, m in list(sys.modules.items())
                       if n == PKG or n.startswith(PKG + ".")]
            for mod in holders:
                for name, val in list(vars(mod).items()):
                    hit = originals.get(id(val))
                    if hit is not None and hit[0] is val:
                        self._installed.append((mod, name, val, hit[1]))
        for mod, name, _fn, wrapper in self._installed:
            setattr(mod, name, wrapper)

    def uninstall(self) -> None:
        for mod, name, fn, _wrapper in self._installed:
            setattr(mod, name, fn)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            span = self._open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)
        return traced

    # -- spans ------------------------------------------------------------
    def _set_group(self, layer: str) -> None:
        gid = group_id(self.op, layer)
        if gid != self._group:
            self._sc.setLocalProperty(GROUP_KEY, gid)
            self._group = gid

    def begin(self, op: int) -> None:
        self.op, self.spans = op, []
        self._set_group(ROOT)

    def end(self) -> None:
        self._sc.setLocalProperty(GROUP_KEY, None)
        self.op, self._group = None, None

    def _open(self, layer: str, name: str) -> Span:
        self._set_group(layer)
        span = Span(layer, name, time.perf_counter())
        self._stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        dur = span.end - span.start
        if self._stack:
            parent = self._stack[-1]
            parent.child_s += dur
            self._set_group(parent.layer)
        else:
            self._set_group(ROOT)
        self.spans.append(span)


class JobLedger:
    """Jobs and stage metrics of one op, from the status store."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                    "DefaultScalaModule$"), "MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_mod)
        self._stage_owner: dict[int, int] = {}

    def _read(self, obj) -> object:
        return json.loads(self._json.writeValueAsString(obj))

    def op_jobs(self, op: int) -> dict:
        """Per-layer job and stage totals of op `op` (layer `-` holds jobs
        submitted outside every span)."""
        self._sc.listenerBus().waitUntilEmpty()
        prefix = group_id(op, "")
        jobs = sorted((j for j in self._read(self._store.jobsList(None))
                       if (j.get("jobGroup") or "").startswith(prefix)),
                      key=lambda j: j["jobId"])
        out = defaultdict(lambda: defaultdict(float))
        spans = defaultdict(list)
        for j in jobs:
            layer = j["jobGroup"][len(prefix):]
            acc = out[layer]
            acc["jobs"] += 1
            acc["stages"] += len(j["stageIds"])
            acc["skipped_stages"] += j["numSkippedStages"]
            acc["failed_tasks"] += j["numFailedTasks"]
            spans[layer].append((j["submissionTime"],
                                 j.get("completionTime") or j["submissionTime"]))
            for sid in j["stageIds"]:
                # a stage's metrics belong to the first job that ran it
                if self._stage_owner.setdefault(sid, j["jobId"]) != j["jobId"]:
                    continue
                st = self._read(self._store.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                acc["tasks"] += st["numCompleteTasks"]
                acc["cpu_s"] += st["executorCpuTime"] / 1e9
                acc["run_s"] += st["executorRunTime"] / 1e3
                acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                acc["spill_mb"] += st["diskBytesSpilled"] / 1e6
        for layer, iv in spans.items():
            out[layer]["job_wall_s"] = _union_s(iv) / 1e3
        return out


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals (jobs a SQL
    execution submits from helper threads may overlap)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0)
