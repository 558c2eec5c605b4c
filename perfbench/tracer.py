"""In-memory tracing for the benchmark's traced runs.

Spans are recorded around calls into the program's public functions, patched
where the caller looks them up (``api.search_plan``, not only
``plans.search.search``), plus ``DataFrame.localCheckpoint`` and
``DataFrame.collect``.  Each span has a name, start, end, parent and the id of
the operation it belongs to; a layer's self time is its duration minus the
part of it that its child spans cover.  py4j round trips are counted by
wrapping ``GatewayClient.send_command``.  Spark work is read per operation
from the in-process status store under a job group (the UI stays off).

Untraced runs never import this module, so end-to-end numbers carry none of
its cost."""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "input_bytes": lambda s: s.inputBytes(),
    "input_records": lambda s: s.inputRecords(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.enabled = False
        self._stack: list[dict] = []
        self._op_id = 0
        self.py4j_calls = 0
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans ---------------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "trace": self._op_id,
             "parent": parent["id"] if parent else None,
             "prev": parent.get("_last") if parent else None,
             "start": time.perf_counter(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent["_last"] = name

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper (undone by close)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, *a, **kw):
            tracer.py4j_calls += 1
            return orig(client, *a, **kw)

        self._patched.append((GatewayClient, "send_command", orig))
        GatewayClient.send_command = send_command

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def self_ms(self, name: str) -> float:
        """Summed self time of the spans called ``name``."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            total += (s["end"] - s["start"]) - covered
        return total * 1000.0

    def total_ms(self, name: str, prev: str | None = None) -> float:
        """Summed wall time of spans called ``name`` (optionally only those
        whose preceding sibling span was ``prev``)."""
        return sum((s["end"] - s["start"]) * 1000.0 for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and (prev is None or s["prev"] == prev))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    # ---- operations --------------------------------------------------------------

    @contextmanager
    def operation(self, kind: str):
        """One benchmark operation: a trace id, a Spark job group and the
        status-store delta of every stage its jobs ran."""
        self._op_id += 1
        group = f"perfbench-{self._op_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        calls0 = self.py4j_calls
        rec = {"trace": self._op_id, "kind": kind, "build_ms": 0.0, "exec_ms": 0.0}
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            if not rec["build_ms"] and not rec["exec_ms"]:
                rec["exec_ms"] = rec["wall_ms"]  # no build/collect split for this kind
            rec["py4j_calls"] = self.py4j_calls - calls0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec.update(self._stage_metrics(group))
            self.ops.append(rec)

    def _stage_metrics(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in STAGE_FIELDS}}
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stages were never attempted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            for k, get in STAGE_FIELDS.items():
                out[k] += get(sd)
        return out

    def dump(self, path: str, extra: dict) -> None:
        spans = [{k: v for k, v in s.items() if not k.startswith("_")} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "ops": self.ops, **extra}, f)
