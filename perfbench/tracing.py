"""In-memory spans for the traced run (``--trace 1``).

A span records name, start, end, parent and the trigger or request it
belongs to. Spans come only from the benchmark's own wrappers around the
calls into each layer; the program itself is not instrumented. Each span
also tags the Spark jobs started inside it (``SparkContext.addJobTag``),
so job counts per span are read back from Spark's status tracker once the
run is over. Tags add to a job instead of replacing the streaming query's
own job group, so stopping the query still cancels its jobs.

With tracing off, ``wrap`` returns the callable unchanged and ``span``
records nothing, so the untraced run executes exactly the program's code.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        if rec["parent"] is not None:
            for key in ("trigger", "request"):
                if key in self.spans[rec["parent"]] and key not in rec:
                    rec[key] = self.spans[rec["parent"]][key]
        self.spans.append(rec)
        tag = f"perfbench-span-{sid}"
        self.sc.addJobTag(tag)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.removeJobTag(tag)

    def wrap(self, name: str, fn, batch_arg: bool = False):
        """``fn`` timed as span ``name``; a foreachBatch callable
        (``batch_arg``) labels its span with the trigger's batch id."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {"trigger": args[1]} if batch_arg else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        return traced

    def count_jobs(self) -> None:
        """Fill ``jobs`` (this span and its children) and ``self_jobs``
        on every span, from the status tracker."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 -- best effort: fall back to a pause
            time.sleep(2.0)
        tracker = jsc.statusTracker()
        for s in self.spans:
            s["jobs"] = len(tracker.getJobIdsForTag(f"perfbench-span-{s['id']}"))
        for s in self.spans:
            s["self_jobs"] = s["jobs"] - sum(
                c["jobs"] for c in self.spans if c["parent"] == s["id"])


def children_s(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds its direct children cover. A span's self time is
    its duration minus this; its coverage is this over its duration."""
    out: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] = out.get(s["parent"], 0.0) + s["end"] - s["start"]
    return out
