"""Spans, Spark counters and process memory for the benchmark.

A :class:`Tracer` wraps each call the benchmark makes into a layer's
public function, together with the action that forces it, in a span
named ``<module>.<fn>``.  Tracing is off in the runs that report the
end-to-end metrics; then ``span`` only yields and touches nothing.  With
tracing on, every span gets its own Spark job group, and when the run
ends the stage counters of the jobs in that group are attached to it
from the application status store (which works with the UI disabled).
Spans are kept in memory and written out once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

STAGE_FIELDS = {
    # span field: (StageData accessor, scale to the reported unit)
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
}


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()    # per-thread stack of open spans
        self._ids = itertools.count(1)
        self._sc = None
        #: stamped on every span: "setup" or "measure"
        self.phase = "setup"

    def bind(self, spark) -> None:
        """Attach to the live session (``None`` while it restarts)."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = {"id": f"{self.run_id}.{next(self._ids)}", "name": name,
              "parent": parent["id"] if parent else None,
              "run_id": self.run_id, "phase": self.phase, **attrs}
        stack.append(sp)
        self._set_group(sp["id"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if parent is not None:
                self._set_group(parent["id"], parent["name"])
            else:
                self._set_group(None, None)
            self.spans.append(sp)

    def _set_group(self, gid, desc) -> None:
        # local properties are per thread (PySpark's pinned-thread mode),
        # so spans opened from several threads keep their own groups
        if self._sc is None:
            return
        self._sc.setLocalProperty("spark.jobGroup.id", gid)
        self._sc.setLocalProperty("spark.job.description", desc)

    def attach_stage_counters(self, spark, groups: dict | None = None) -> None:
        """Sum stage counters per job group into the matching spans.

        ``groups`` maps extra job-group ids (a streaming query's run id,
        which Structured Streaming uses as the group of its batch jobs)
        to the span that should receive them."""
        if not self.enabled:
            return
        jvm = spark.sparkContext._jvm
        store = spark.sparkContext._jsc.sc().statusStore()
        by_group: dict[str, list[int]] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined():
                ids = j.stageIds()
                by_group.setdefault(g.get(), []).extend(
                    ids.apply(k) for k in range(ids.size()))
        empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = store.stageList(None, False, False, empty, None)
        per_stage = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            per_stage.setdefault(s.stageId(), {
                f: getattr(s, acc)() * scale
                for f, (acc, scale) in STAGE_FIELDS.items()})
        targets = {sp["id"]: sp for sp in self.spans}
        for gid, sp in (groups or {}).items():
            targets[gid] = sp
        for gid, sp in targets.items():
            sids = set(by_group.get(gid, ()))
            for f in STAGE_FIELDS:
                sp[f] = sp.get(f, 0) + sum(per_stage[s][f] for s in sids
                                           if s in per_stage)
            sp["stages"] = sp.get("stages", 0) + len(sids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def vm_hwm_mb(pids) -> float:
    """Sum of the peak resident set (``VmHWM``) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def descendants(root: int) -> list[int]:
    """All live descendant pids of ``root`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus everything it started: the JVM and
    the JVM's Python daemon and workers."""
    return vm_hwm_mb([os.getpid(), *descendants(os.getpid())])
