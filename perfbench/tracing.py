"""Tracing for the ``--trace 1`` run: spans kept in memory and written
out at the end, the engine's own per-batch numbers through a
``StreamingQueryListener``, and executor-side model timings through
accumulators on a ``predict_fn`` wrapper.  Nothing here touches the
program under test; an untraced run uses none of it.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, run id) around the benchmark's
    calls into each layer.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs) -> Iterator[int | None]:
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": parent if parent is not None else (stack[-1] if stack else None),
               "start": time.monotonic(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.monotonic()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class EngineListener(StreamingQueryListener):
    """Keeps every ``QueryProgress`` the engine reports, as parsed JSON."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, run_id: str, batches: int, timeout_s: float = 10.0) -> list[dict]:
        """The progress records of query run ``run_id`` once at least
        ``batches`` have arrived (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = [p for p in self.progress if p.get("runId") == run_id]
            if len(got) >= batches or time.monotonic() > deadline:
                return sorted(got, key=lambda p: p["batchId"])
            time.sleep(0.05)


def timed_predict(spark, predict_fn: Callable) -> tuple[Callable, Callable[[], dict]]:
    """``predict_fn`` wrapped to count calls, rows and seconds on the
    executors; the second callable reads the totals on the driver."""
    sc = spark.sparkContext
    calls, rows, secs = sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0)

    def wrapped(seq):
        t = time.perf_counter()
        out = predict_fn(seq)
        secs.add(time.perf_counter() - t)
        calls.add(1)
        rows.add(len(seq))
        return out

    return wrapped, lambda: {"calls": calls.value, "rows": rows.value, "seconds": secs.value}
