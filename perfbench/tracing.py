"""Tracing from outside the engine: spans around calls into its modules.

``Tracer.install`` replaces public functions of the engine's modules
with timing wrappers before the plans package is imported (plans bind
these functions with ``from ... import``). A wrapper records a span
only while ``Tracer.enabled`` is set, so one process can run traced
and untraced passes and measure the tracing overhead. Spans stay in
memory and are written out once, at the end of the run.

Layers wrapped here:

- ``io.read_table``;
- ``sinks.write``: ``write_parquet``, ``write_csv``, ``overwrite_table``,
  ``append_table``, ``merge_*`` and ``write_sorted_by``;
- ``checkpoint``: ``DataFrame.localCheckpoint`` and ``DataFrame.checkpoint``;
- ``operators.<module>``: every public function of the operator modules
  in ``OPERATOR_MODULES``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict

PKG = "quickbooks_aws_etl_pipeline_spark"
OPERATOR_MODULES = ["dedup", "similarity", "text", "graph", "retrieval",
                    "sketch", "sampling", "evaluation", "curation"]
SINK_FUNCTIONS = ["write_parquet", "write_csv", "overwrite_table",
                  "append_table", "write_sorted_by"]


class Tracer:
    """In-memory span recorder. A span is (name, key, start, end,
    parent index, self seconds); self time is the span's duration
    minus the durations of its direct children."""

    def __init__(self) -> None:
        self.enabled = False
        self.key: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    # -- spans -------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "key": self.key, "start": time.time(),
                           "end": None, "parent": parent, "child_s": 0.0})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self._stack.pop()
        span = self.spans[idx]
        span["end"] = time.time()
        dur = span["end"] - span["start"]
        span["self_s"] = dur - span.pop("child_s")
        if span["parent"] is not None:
            self.spans[span["parent"]]["child_s"] += dur

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)
        return traced

    # -- installation ------------------------------------------------
    def install(self) -> None:
        """Wrap the engine's layer entry points. Must run before
        ``<pkg>.plans`` is imported."""
        if f"{PKG}.plans" in sys.modules:
            raise RuntimeError("install the tracer before importing the plans package")
        io = importlib.import_module(f"{PKG}.io")
        io.read_table = self.wrap("io.read_table", io.read_table)
        sinks = importlib.import_module(f"{PKG}.sinks")
        for name, fn in list(vars(sinks).items()):
            if inspect.isfunction(fn) and (name in SINK_FUNCTIONS or name.startswith("merge_")):
                setattr(sinks, name, self.wrap("sinks.write", fn))
        for cls in _dataframe_classes():
            for name in ("localCheckpoint", "checkpoint"):
                if name in vars(cls):
                    setattr(cls, name, self.wrap("checkpoint", vars(cls)[name]))
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and not name.startswith("_")
                        and fn.__module__ == mod.__name__):
                    setattr(mod, name, self.wrap(f"operators.{mod_name}", fn))

    # -- summaries ---------------------------------------------------
    def totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per span name: call count, inclusive and self seconds, over
        spans recorded from index ``since`` on."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
        for span in self.spans[since:]:
            if span["end"] is None:
                continue
            t = out[span["name"]]
            t["calls"] += 1
            t["s"] += span["end"] - span["start"]
            t["self_s"] += span["self_s"]
        return out


def _dataframe_classes() -> list[type]:
    """The DataFrame class and, on Spark 4, the classic implementation
    that overrides its methods."""
    from pyspark.sql import DataFrame
    classes = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as Classic
        classes.append(Classic)
    except ImportError:
        pass
    return classes


class StreamStats:
    """Per-trigger progress of every streaming query, collected by a
    ``StreamingQueryListener`` that the benchmark registers. ``take``
    returns and clears what arrived since the last ``take``."""

    def __init__(self) -> None:
        self.batch_ms: list[float] = []
        self.state_rows = 0
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with stats._lock:
                    stats.batch_ms.append(float(p.durationMs.get("triggerExecution", 0)))
                    stats.state_rows += sum(int(op.numRowsTotal) for op in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def take(self) -> tuple[list[float], int]:
        with self._lock:
            out = (self.batch_ms, self.state_rows)
            self.batch_ms, self.state_rows = [], 0
        return out
