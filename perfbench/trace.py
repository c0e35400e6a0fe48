"""Tracing for ``--trace 1`` runs: spans recorded by the benchmark around
its calls into the program, Spark execution counters from the
monitoring REST API, and streaming counters from
``StreamingQuery.recentProgress``.

Spans are kept in memory and written once, with the run's metrics, to
``.perfbench_traces/<workload>-seed<seed>.json`` in the checkout.
"""

from __future__ import annotations

import contextlib
import json
import os
import socket
import time
import urllib.request


class Tracer:
    """In-memory spans: name, start, end, parent. With ``enabled`` off
    every call is a no-op, so the untraced path runs the same code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_s": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def write(self, path: str, payload: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**payload, "spans": self.spans}, fh, indent=1, default=str)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class ExecCounters:
    """Stage-level execution counters from the Spark UI REST API
    (``/api/v1/applications/<app>/stages``). :meth:`delta` sums the
    stages completed since the previous call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]  # the UI listens on all interfaces
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self._seen: set[int] = {s["stageId"] for s in self._stages()}

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/stages?status=complete", timeout=30) as r:
            return json.load(r)

    def delta(self) -> dict[str, float]:
        # the status store is fed by the listener bus: let it drain
        # before reading, and read until two snapshots agree
        tracker = self.sc.statusTracker()
        while tracker.getActiveStageIds():
            time.sleep(0.02)
        prev, stages = None, self._stages()
        while prev is None or len(prev) != len(stages):
            time.sleep(0.05)
            prev, stages = stages, self._stages()
        new = [s for s in stages if s["stageId"] not in self._seen]
        self._seen.update(s["stageId"] for s in new)
        return {
            "exec.tasks": sum(s["numCompleteTasks"] for s in new),
            "exec.stages": len(new),
            "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in new),
            "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in new),
            "exec.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in new
            ),
            "exec.executor_run_ms": sum(s["executorRunTime"] for s in new),
            "exec.gc_ms": sum(s.get("jvmGcTime", 0) for s in new),
        }


def progress_metrics(progress: dict) -> dict[str, float]:
    """Per-layer numbers of one micro-batch from its progress JSON."""
    dur = progress.get("durationMs", {})
    ops = progress.get("stateOperators") or [{}]
    st = ops[0]
    return {
        "source.latest_offset_ms": dur.get("latestOffset", 0),
        "source.get_batch_ms": dur.get("getBatch", 0),
        "stream.query_planning_ms": dur.get("queryPlanning", 0),
        "stream.add_batch_ms": dur.get("addBatch", 0),
        "stream.wal_commit_ms": dur.get("walCommit", 0),
        "stream.commit_offsets_ms": dur.get("commitOffsets", 0),
        "state.commit_ms": st.get("commitTimeMs", 0),
        "state.update_ms": st.get("allUpdatesTimeMs", 0),
        "state.rows_total": st.get("numRowsTotal", 0),
        "state.rows_updated": st.get("numRowsUpdated", 0),
        "state.memory_bytes": st.get("memoryUsedBytes", 0),
        "state.instances": st.get("numStateStoreInstances", 0),
    }
