"""Spans around calls into ringo_spark layers, recorded from outside the
library.

The tracer replaces public functions of ``ringo_spark`` modules (and the
``DataFrameWriter.parquet`` action the engine writes through) with
wrappers that record a span -- name, start, end, parent -- while tracing
is active, and call straight through otherwise.  Spans stay in memory;
:meth:`Tracer.dump` writes them out at exit.  Spans marked ``group=True``
also run under their own Spark job group, so the jobs, stages and tasks
they launch are counted per span through ``statusTracker()``.  Jobs that
Spark runs under a group of its own (broadcast exchanges) are not
counted.

Executor CPU, GC, shuffle and spill come from the status REST API of the
Spark UI; an unreachable UI raises instead of reporting empty numbers.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import time
import urllib.request

ROOT_GROUP = "perfbench"


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return size, files


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self.written: dict[str, int] = {}       # write target -> bytes
        self.sc.setJobGroup(ROOT_GROUP, "perfbench", False)

    # --- spans -------------------------------------------------------------

    def _group(self) -> str:
        for rec in reversed(self._stack):
            if "group" in rec:
                return rec["group"]
        return ROOT_GROUP

    def inside(self, prefix: str) -> bool:
        return any(r["name"].startswith(prefix) for r in self._stack)

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        if not self.active:
            yield None
            return
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        if group:
            rec["group"] = f"{ROOT_GROUP}-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name, False)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setJobGroup(self._group(), "perfbench", False)
                rec.update(self._job_counts(rec["group"]))
            self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # --- wrapping ----------------------------------------------------------

    def _wrapper(self, orig, name, group, after=None):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name, group=group) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out
        return wrapper

    def wrap_attr(self, owner, attr: str, name: str, group: bool = False,
                  after=None) -> None:
        """Wrap one attribute (a module function or a class method)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, self._wrapper(orig, name, group, after))
        self._patches.append((owner, attr, orig))

    def wrap_function(self, func, name: str, group: bool = False,
                      after=None) -> None:
        """Wrap ``func`` under every name any loaded ringo_spark module
        binds it to (``from .catalog import load_catalog`` copies the
        reference, so patching the defining module alone misses callers)."""
        wrapper = self._wrapper(func, name, group, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "ringo_spark"
                                   or mod_name.startswith("ringo_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    setattr(mod, attr, wrapper)
                    self._patches.append((mod, attr, func))

    def written_under(self, prefix: str) -> int:
        prefix = os.path.join(prefix, "")
        return sum(b for p, b in self.written.items() if p.startswith(prefix))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --- results -----------------------------------------------------------

    def self_ms(self, spans: list[dict]) -> dict[int, float]:
        """Span id -> self time (ms): duration minus the union of its
        children's intervals."""
        kids: dict[int, list] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            out[s["id"]] = max(0.0, (s["end"] - s["start"] - covered) * 1e3)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


class StageMetrics:
    """Completed-stage and SQL-execution snapshots from the Spark UI's
    status REST API; the difference of two snapshots is what ran
    between them."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is disabled; the traced run needs "
                               "its status REST API")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages?status=complete")}
        sql = {e["id"] for e in self._get(
            "/sql?details=false&planDescription=false&length=1000000")}
        return {"stages": stages, "sql": sql}

    def diff(self, before: dict) -> dict:
        after = self.snapshot()
        new = [s for k, s in after["stages"].items()
               if k not in before["stages"]]
        execs = [e for e in self._get(
            "/sql?details=false&planDescription=true&length=1000000")
            if e["id"] not in before["sql"] and e["id"] in after["sql"]]
        kernel = [e for e in execs if "MapInArrow" in e.get("planDescription", "")]
        return {
            "executor_cpu_ms": sum(s.get("executorCpuTime", 0) for s in new) / 1e6,
            "gc_ms": float(sum(s.get("jvmGcTime", 0) for s in new)),
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in new) / 2**20,
            "spill_mb": sum(s.get("memoryBytesSpilled", 0) for s in new) / 2**20,
            "kernel_plans": len(kernel),
            "kernel_execute_ms": float(sum(e.get("duration", 0) for e in kernel)),
        }
