"""Spans around the benchmark's calls into each engine layer.

Only the traced run (``--trace 1``) installs them.  A span records its
name, start, end, parent and pass id in memory; the spans are written
out once, when the run ends.  Each span runs its Spark jobs under its
own job group, and when the span closes its stages are read back from
the in-process status store (which keeps only the last 1,000 stages,
so reading at close is what makes a 400-stage pass attributable).
Stages of a nested span belong to the nested span only.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

STAGE_FIELDS = ("stages", "tasks", "executor_cpu_s", "shuffle_write_bytes",
                "spill_bytes", "failed_tasks")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_id = -1
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, measure=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``measure(args, kwargs)`` may return a callable that, given the
        finished span, adds counts to it."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            after = measure(args, kwargs) if measure else None
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if after:
                after(sp.rec)
            return out

        setattr(owner, attr, traced)

    # -- stage metrics -------------------------------------------------
    def stage_metrics(self, group: str) -> dict:
        out = dict.fromkeys(STAGE_FIELDS, 0)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        seen = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    seq = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                          False, self.sc._gateway.new_array(jvm.double, 0))
                except Exception:   # evicted from the store: count nothing
                    continue
                it = seq.iterator()
                while it.hasNext():
                    s = it.next()
                    if str(s.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["failed_tasks"] += s.numFailedTasks()
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.rec = {"id": next(tracer._ids), "name": name,
                    "pass": tracer.pass_id, **attrs}

    def __enter__(self):
        stack = self.t._stack()
        self.rec["parent"] = stack[-1].rec["id"] if stack else None
        self.group = f"perfbench-{self.rec['id']}"
        self.prev_group = self.t.sc.getLocalProperty("spark.jobGroup.id")
        self.t.sc.setLocalProperty("spark.jobGroup.id", self.group)
        stack.append(self)
        self.rec["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.rec["ok"] = exc[0] is None
        self.t._stack().pop()
        self.t.sc.setLocalProperty("spark.jobGroup.id", self.prev_group)
        self.rec.update(self.t.stage_metrics(self.group))
        with self.t._lock:
            self.t.spans.append(self.rec)
        return False


def dir_files(path: str) -> dict[str, int]:
    """{file path: bytes} under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out
