"""Per-layer tracing for one benchmark process.

A ``Tracer`` records a span around every call the harness makes into a
product layer, counts py4j round trips by wrapping the py4j client's
``send_command``, and reads Spark's own counters for each invocation's
job group (status tracker for jobs, status store for stage data). Spans
live in memory and are written once, at the end of the run.

Disabled, every hook is a no-op: no job group, no py4j wrapper, no
counter reads; only each invocation's wall time is kept.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from itertools import count

from py4j.protocol import MEMORY_COMMAND_NAME, Py4JJavaError

STAGE_FIELDS = {
    # metric name -> StageData accessor (times in ms, bytes)
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.invocations: list[dict] = []
        self._ids = count()
        self._stack: list[int] = []
        self._inv: dict | None = None
        self.py4j_calls = 0
        self._client = self.sc._gateway._gateway_client
        self.enabled = False
        self.set_enabled(enabled)

    def set_enabled(self, enabled: bool) -> None:
        """Install or remove the py4j call counter on the client."""
        if enabled and not self.enabled:
            send = type(self._client).send_command.__get__(self._client)

            def counting_send(command, *args, **kwargs):
                # a proxy's release, sent whenever Python collects it, is
                # not a call the code made
                if not command.startswith(MEMORY_COMMAND_NAME):
                    self.py4j_calls += 1
                return send(command, *args, **kwargs)

            self._client.send_command = counting_send
        elif self.enabled and not enabled:
            del self._client.send_command
        self.enabled = enabled

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer; nested spans record their parent."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        inv = self._inv["id"] if self._inv else None
        calls0 = self.py4j_calls
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "invocation": inv,
                "py4j_calls": self.py4j_calls - calls0,
            })

    @contextmanager
    def invocation(self, op: str, phase: str):
        """One operation under its own Spark job group. Traced, the
        group's jobs and stages are read back once the operation ends."""
        inv = {"id": len(self.invocations), "op": op, "phase": phase,
               "traced": self.enabled, "ok": False}
        group = f"perfbench-{inv['id']}"
        start = time.perf_counter()
        if self.enabled:
            self.sc.setJobGroup(group, op)
            self._inv = inv
        try:
            with self.span(f"op.{op}"):
                yield inv
            inv["ok"] = True
        finally:
            if inv["traced"]:
                self._inv = None
                self.sc.setJobGroup("perfbench-idle", "between operations")
                inv.update(self._group_counters(group))
            inv["wall_s"] = time.perf_counter() - start
            self.invocations.append(inv)

    def jobs_so_far(self) -> int:
        """Jobs the current invocation's group has launched so far."""
        if not (self.enabled and self._inv):
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(
            f"perfbench-{self._inv['id']}"
        ))

    def _group_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({k: 0 for k in STAGE_FIELDS})
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:  # stage evicted from the status store
                    continue
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += data.numCompleteTasks()
                for key, read in STAGE_FIELDS.items():
                    out[key] += read(data)
        return out
