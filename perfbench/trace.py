"""Traced-run instrumentation, kept entirely in the benchmark's files.

- Spans (name, start, end, parent) are kept in memory and written out
  when the run ends.
- Every span sets `SparkContext.setJobDescription`, and Spark stages are
  read back from the UI REST API and attributed to the innermost span
  whose interval holds the stage's submission time (streaming stages carry
  Spark's own description, so time is the one key that covers both).
- A StreamingQueryListener keeps each trigger's `durationMs`.
- `wrap_attr` swaps a module attribute for a timing wrapper, which is how
  the pipeline's `apply_changes` / `merge_upsert` calls are observed
  without editing the engine.
"""

from __future__ import annotations

import calendar
import contextlib
import json
import time
import urllib.request
from datetime import datetime
from pathlib import Path


def _epoch(ts: str) -> float:
    """'2026-10-17T01:23:45.678GMT' / '...Z' -> epoch seconds."""
    ts = ts.replace("GMT", "").rstrip("Z")
    d = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(d.timetuple()) + d.microsecond / 1e6


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._stack: list[int] = []

    # -- spans ---------------------------------------------------------
    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "start": time.time(), "end": None, **attrs}
        )
        self._stack.append(len(self.spans) - 1)
        self.spark.sparkContext.setJobDescription(name)
        return len(self.spans) - 1

    def close(self, sid: int) -> None:
        while self._stack:
            top = self._stack.pop()
            self.spans[top]["end"] = time.time()
            if top == sid:
                break
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        self.spark.sparkContext.setJobDescription(parent)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.open(name, **attrs)
        try:
            yield self.spans[sid]
        finally:
            self.close(sid)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    @staticmethod
    def wall(s: dict) -> float:
        return s["end"] - s["start"]

    # -- wrappers ------------------------------------------------------
    @staticmethod
    def wrap_attr(module, attr: str, make_wrapper) -> None:
        """Replace `module.attr` with `make_wrapper(original)` for this run."""
        setattr(module, attr, make_wrapper(getattr(module, attr)))

    # -- streaming progress --------------------------------------------
    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {"ts": _epoch(p.timestamp), "durationMs": dict(p.durationMs),
                     "numInputRows": p.numInputRows}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Progress())

    def wait_progress(self, n_queries: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until every streaming
        query seen so far has reported (or the timeout passes)."""
        deadline = time.monotonic() + timeout
        while len(self.progress) < n_queries and time.monotonic() < deadline:
            time.sleep(0.1)

    # -- stages ----------------------------------------------------------
    def stages(self) -> list[dict]:
        """Completed stages from the REST API, once the status store is quiet."""
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
        last: list[dict] | None = None
        for _ in range(50):
            with urllib.request.urlopen(url, timeout=10) as resp:
                cur = json.loads(resp.read())
            if last is not None and len(cur) == len(last):
                break
            last = cur
            time.sleep(0.2)
        out = []
        for st in cur:
            if "submissionTime" not in st:
                continue
            out.append(
                {
                    "t": _epoch(st["submissionTime"]),
                    "task_s": st.get("executorRunTime", 0) / 1000.0,
                    "input_b": st.get("inputBytes", 0),
                    "shuffle_b": st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0),
                }
            )
        return out

    def attribute(self, stages: list[dict]) -> None:
        """Give each span `stages`, `task_s`, `input_b`, `shuffle_b` totals of
        the stages submitted inside it and not inside one of its children."""
        for s in self.spans:
            s.update(stages=0, task_s=0.0, input_b=0, shuffle_b=0)
        for st in stages:
            best = None
            for s in self.spans:
                if s["start"] <= st["t"] < s["end"] and (
                    best is None or s["start"] >= best["start"]
                ):
                    best = s
            if best is not None:
                best["stages"] += 1
                best["task_s"] += st["task_s"]
                best["input_b"] += st["input_b"]
                best["shuffle_b"] += st["shuffle_b"]

    def rollup(self, sid: int, key: str) -> float:
        """`key` summed over span `sid` and all its descendants."""
        return self.spans[sid][key] + sum(self.rollup(c["id"], key) for c in self.children(sid))

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans, "progress": self.progress}))
