"""Spans and per-layer counters, read only from outside the engine.

The benchmark wraps each of its calls into a layer in ``Tracer.op``
(one top-level span per operation) and ``Tracer.span`` (child spans,
e.g. the builder call and the action of a search request).  With
tracing off the same calls only time the operation, so the workload
code is identical in both modes.

With tracing on, the counters come from four boundaries:

- a wrapper on py4j ``send_command`` in this process (py4j's GC-detach
  commands are not counted, since finalizers issue them at random times);
- the Spark UI REST API (``/jobs``, ``/stages``, ``/sql``) for job
  intervals, stage metrics and the SQL metrics of Python-eval nodes,
  plus a ``QueryExecutionListener`` for Catalyst phase times;
- a ``StreamingQueryListener`` for micro-batch progress;
- a listing of the operation's output directories.

Spans stay in memory and are written as JSONL when the run ends.  The
time the tracer spends harvesting counters is itself measured and
reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

#: SQL plan nodes that run rows through Python workers
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "ArrowWindowPython", "ArrowAggregatePython",
)

#: per-operation counters, in the order they are reported
OP_METRICS = (
    ("wall_s", "s"), ("exec_busy_s", "s"), ("driver_idle_s", "s"),
    ("plan_s", "s"), ("py4j_calls", "count"), ("jobs", "count"),
    ("eager_jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("pyworker_rows", "count"),
    ("sink_files", "count"), ("sink_bytes", "bytes"),
    ("sink_bytes_per_row", "bytes/row"),
)


def _ui_time(s: str) -> float:
    # the UI reports GMT timestamps such as 2026-10-17T03:08:21.123GMT
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def listing(dirs: list[str], since: float) -> tuple[int, int]:
    """Files under ``dirs`` modified at or after ``since``, and their bytes."""
    files = size = 0
    for d in dirs:
        for root, _subdirs, names in os.walk(d):
            for n in names:
                try:
                    st = os.stat(os.path.join(root, n))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= since:
                    files += 1
                    size += st.st_size
    return files, size


class Op:
    """One operation: its role (``first``, ``write`` or ``read``), its
    span and the counters harvested for it.  ``rows`` is what the
    operation produced; it may be set after the operation ends."""

    def __init__(self, role: str, name: str, op_id: int):
        self.role, self.name, self.op_id = role, name, op_id
        self.wall_s = 0.0
        self.rows = 0
        self.counters: dict[str, float] = {}


class Tracer:
    """Times operations; with ``enabled`` also records spans and counters."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[Op] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.time()
        self.stream_progress: list[dict] = []
        self._py4j = {"n": 0}
        self._plan = {"s": 0.0, "n": 0}
        self._seen_jobs = -1
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_sql = 0
        self._spark = None

    # ---- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: Op | None = None):
        """A child span (or a top-level one when ``op`` is given)."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            op_id = op.op_id
        else:
            op_id = self.spans[parent]["op_id"] if parent is not None else None
        rec = {"span_id": sid, "name": name, "parent": parent, "op_id": op_id,
               "start": time.time() - self._t0}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time() - self._t0

    @contextmanager
    def op(self, role: str, name: str, sink_dirs: list[str] = ()):
        """Time one operation; harvest its counters when tracing."""
        op = Op(role, name, len(self.ops))
        if self.enabled:
            before = self._snapshot()
        w0 = time.time()
        t0 = time.perf_counter()
        with self.span(name, op):
            yield op
        op.wall_s = time.perf_counter() - t0
        w1 = time.time()
        self.ops.append(op)
        if self.enabled:
            h0 = time.perf_counter()
            self._harvest(op, before, w0, w1, list(sink_dirs))
            self.overhead_s += time.perf_counter() - h0

    # ---- attachment --------------------------------------------------
    def attach(self, spark) -> None:
        """Install the wrappers and listeners on a started session."""
        if not self.enabled:
            return
        h0 = time.perf_counter()
        self._spark = spark
        self._install_py4j_counter()
        self._install_plan_listener(spark)
        self._install_stream_listener(spark)
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._settle()
        jobs = self._get("/jobs")
        self._seen_jobs = max((j["jobId"] for j in jobs), default=-1)
        self._seen_stages = {(s["stageId"], s["attemptId"]) for s in self._get("/stages")}
        self._seen_sql = len(self._get_sql())
        self.overhead_s += time.perf_counter() - h0

    def _install_py4j_counter(self) -> None:
        """Count driver round-trips, leaving out GC-detach commands and
        everything sent from threads that serve JVM callbacks (the
        tracer's own listeners run there)."""
        from py4j.clientserver import ClientServerConnection

        state, local, lock = self._py4j, threading.local(), threading.Lock()
        send, serve = ClientServerConnection.send_command, ClientServerConnection.run

        def counted(conn, command, *a, **kw):
            if not getattr(local, "callback", False) and not (
                isinstance(command, str) and command.startswith("m\n")
            ):
                with lock:
                    state["n"] += 1
            return send(conn, command, *a, **kw)

        def serving(conn, *a, **kw):
            local.callback = True
            return serve(conn, *a, **kw)

        ClientServerConnection.send_command = counted
        ClientServerConnection.run = serving

    def _install_plan_listener(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        plan = self._plan
        lock = threading.Lock()

        class PlanListener:
            def onSuccess(self, func, qe, duration_ns):
                self._add(qe)

            def onFailure(self, func, qe, exc):
                self._add(qe)

            def _add(self, qe):
                s = 0.0
                it = qe.tracker().phases().iterator()
                while it.hasNext():
                    ph = it.next()._2()
                    s += (ph.endTimeMs() - ph.startTimeMs()) / 1000.0
                with lock:
                    plan["s"] += s
                    plan["n"] += 1

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._plan_listener = PlanListener()
        spark._jsparkSession.listenerManager().register(self._plan_listener)

    def _install_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.stream_progress

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "wall": time.time(),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(ProgressListener())

    # ---- harvesting --------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def _get_sql(self, offset: int = 0) -> list[dict]:
        """SQL executions from the ``offset``-th on, in execution order."""
        out = []
        while True:
            page = self._get(
                f"/sql?details=true&planDescription=false&offset={offset}&length=500"
            )
            out.extend(page)
            if len(page) < 500:
                return out
            offset += 500

    def _settle(self, timeout: float = 10.0) -> None:
        """Wait until the UI store and the plan listener have caught up:
        no running job and a steady listener count (both are fed
        asynchronously from the listener bus)."""
        deadline = time.time() + timeout
        last_n = -1
        while time.time() < deadline:
            sc = self._spark.sparkContext
            busy = bool(sc.statusTracker().getActiveJobsIds())
            if not busy:
                jobs = self._get("/jobs")
                busy = any(j["status"] == "RUNNING" for j in jobs)
            n = self._plan["n"]
            if not busy and n == last_n:
                return
            last_n = n
            time.sleep(0.1)

    def _snapshot(self) -> dict:
        return {"py4j": self._py4j["n"], "plan": self._plan["s"],
                "stream": len(self.stream_progress)}

    def _harvest(self, op: Op, before: dict, w0: float, w1: float,
                 sink_dirs: list[str]) -> None:
        py4j = self._py4j["n"] - before["py4j"]
        self._settle()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._seen_jobs]
        if jobs:
            self._seen_jobs = max(j["jobId"] for j in jobs)
        intervals = []
        for j in jobs:
            s = _ui_time(j["submissionTime"])
            e = _ui_time(j["completionTime"]) if "completionTime" in j else w1
            intervals.append((s, e))
        busy = union_seconds(intervals, w0, w1)
        eager = 0
        for sp in self.spans:
            if sp["op_id"] == op.op_id and sp["name"] == "build":
                b0, b1 = self._t0 + sp["start"], self._t0 + sp["end"]
                eager += sum(1 for s, _e in intervals if b0 <= s <= b1)
        stages = [
            s for s in self._get("/stages")
            if (s["stageId"], s["attemptId"]) not in self._seen_stages
            and s["status"] in ("COMPLETE", "FAILED")
        ]
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in stages)
        new_sql = self._get_sql(self._seen_sql)
        self._seen_sql += len(new_sql)
        py_rows = 0
        for ex in new_sql:
            for node in ex.get("nodes", []):
                if node.get("nodeName") in PYTHON_NODES:
                    for m in node.get("metrics", []):
                        if m.get("name") == "number of output rows":
                            py_rows += int(str(m["value"]).replace(",", ""))
        files, size = listing(sink_dirs, w0)
        batches = self.stream_progress[before["stream"]:]
        op.counters = {
            "wall_s": op.wall_s,
            "exec_busy_s": busy,
            "driver_idle_s": max(op.wall_s - busy, 0.0),
            "plan_s": self._plan["s"] - before["plan"],
            "py4j_calls": py4j,
            "jobs": len(jobs),
            "eager_jobs": eager,
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "pyworker_rows": py_rows,
            "sink_files": files,
            "sink_bytes": size,
            "sql_queries": len(new_sql),
            "stream_batches": len(batches),
            "stream_batch_ms": sum(
                p["duration_ms"].get("triggerExecution", 0) for p in batches
            ),
        }

    # ---- reporting ---------------------------------------------------
    def role_medians(self, role: str) -> dict[str, float]:
        """Each counter over the operations of one role: the median per
        operation name, averaged over the names (BM25 and ANN requests
        share the ``read`` role in equal numbers)."""
        by_name: dict[str, list[Op]] = {}
        for o in self.ops:
            if o.role == role and o.counters:
                by_name.setdefault(o.name, []).append(o)
        if not by_name:
            return {}

        def med(ops: list[Op], key: str) -> float:
            if key == "sink_bytes_per_row":
                return statistics.median(
                    o.counters["sink_bytes"] / o.rows if o.rows else 0.0 for o in ops
                )
            return statistics.median(o.counters[key] for o in ops)

        keys = [*next(iter(by_name.values()))[0].counters, "sink_bytes_per_row"]
        return {k: statistics.mean(med(ops, k) for ops in by_name.values()) for k in keys}

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
            for o in self.ops:
                f.write(json.dumps({"op_id": o.op_id, "role": o.role, "name": o.name,
                                    "wall_s": o.wall_s, "counters": o.counters}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["span_id"]: (sp["end"] - sp["start"])
        - union_seconds(kids.get(sp["span_id"], []), sp["start"], sp["end"])
        for sp in spans
    }
