"""Spans around calls into the pipeline's layers, plus the Spark
event-log reader the traced run uses.

Spans are kept in memory (name, start, end, parent, op) and written
out as JSON lines when the run ends.  Layer functions are wrapped from
the benchmark's own process; the package itself is not modified.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder.  Thread-safe: the streaming sink's
    ``foreachBatch`` callback runs on another Python thread, so a span
    opened there with no enclosing span on its own thread is parented
    to the op that is running."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._op_span: int | None = None
        self._op: int | None = None
        self.enabled = True

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Record a span.  Passing ``op`` marks a root op span: spans
        opened (on any thread) until it closes carry that op index.
        Records nothing while ``enabled`` is false."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            parent = stack[-1] if stack else self._op_span
            if op is not None:
                self._op_span, self._op = sid, op
            rec = {"id": sid, "name": name, "parent": parent, "op": self._op,
                   "start": time.time(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)
                if op is not None:
                    self._op_span = self._op = None

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` with a version that records a span per
        call; ``annotate(result, rec)`` may add counts to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if annotate is not None:
                    annotate(result, rec)
                return result

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def span(tracer: Tracer | None, name: str, **kw):
    """``tracer.span(...)`` or a no-op when tracing is off."""
    return tracer.span(name, **kw) if tracer else contextlib.nullcontext()


def instrument(tracer: Tracer) -> None:
    """Wrap the public functions of the catalog and job layers, and the
    parquet writer they hand data to, with spans."""
    from pyspark.sql.readwriter import DataFrameWriter

    from sparkcollector import job
    from sparkcollector.checkpoint import SnapshotCatalog

    def entries(result, rec):
        rec["entries"] = len(result)

    def files(result, rec):
        rec["files"] = len(result.files)

    tracer.wrap(SnapshotCatalog, "snapshots", "catalog.scan", entries)
    tracer.wrap(SnapshotCatalog, "append", "catalog.append", files)
    tracer.wrap(SnapshotCatalog, "read_since", "catalog.read_since")
    tracer.wrap(SnapshotCatalog, "incremental_read", "catalog.read_since")
    tracer.wrap(DataFrameWriter, "parquet", "spark.write")
    tracer.wrap(job, "build_pipeline", "job.build_pipeline")
    tracer.wrap(job, "count_connector", "aggregate.plan")


# -- Spark event log ---------------------------------------------------

PYTHON_TIME = "time to run Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one uncompressed application log in
    ``log_dir``: a single file, or a rolling ``eventlog_v2_*``
    directory of ``events_<n>_*`` files."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {apps}")
    if os.path.isdir(apps[0]):
        parts = glob.glob(os.path.join(apps[0], "events_*"))
        paths = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        paths = apps
    events = []
    for path in paths:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def task_totals(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Per window (start, end in epoch seconds): shuffle bytes written
    and Python worker seconds, summed over the tasks launched inside
    it."""
    out = [{"shuffle_bytes": 0, "python_s": 0.0} for _ in windows]
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        info = ev.get("Task Info", {})
        launched = info.get("Launch Time", 0) / 1000.0
        for w, (a, b) in zip(out, windows):
            if a <= launched <= b:
                break
        else:
            continue
        tm = ev.get("Task Metrics") or {}
        w["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == PYTHON_TIME:
                w["python_s"] += float(acc.get("Update", 0)) / 1000.0
    return out
