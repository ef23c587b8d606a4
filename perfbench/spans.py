"""Outside-in instrumentation of the engine process.

Wrappers replace public entry points at runtime (nothing in the
package changes) and record, per call, a span: name, start, end,
thread, the enclosing span and the exception class if the call raised.
Spans stay in memory and are written out when the engine exits.

Untraced runs wrap only the two calls of one ticker iteration, and only
to count outcomes: ``IngestPipeline.latest_snapshot`` (the ticker's
latest provider, which lists the latest table's files eagerly) and
``ServePublisher.tick``. The ticker swallows an exception from either,
so these wrappers are the only place a failed tick can be counted.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z_]*(?:\.[A-Z][A-Z_]*)*)\]")
_JAVA_CLASS = re.compile(r"\b((?:[a-z_]\w*\.)+[A-Z]\w*(?:Exception|Error))\b")


def error_class(exc: BaseException) -> str:
    """Exception type plus the Spark error class when the message has
    one, e.g. ``Py4JJavaError[FAILED_READ_FILE.FILE_NOT_EXIST]``, else
    the first Java exception class it names, e.g.
    ``Py4JJavaError[java.io.FileNotFoundException]``."""
    msg = str(exc)[:4000]
    m = _ERROR_CLASS.search(msg) or _JAVA_CLASS.search(msg)
    return type(exc).__name__ + (f"[{m.group(1)}]" if m else "")


class Recorder:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.inflight: dict[str, int] = {}

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper; ``attrs``
        maps the call's arguments to extra span fields."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = rec._stack()
            span = {"id": next(rec._ids), "name": name,
                    "parent": stack[-1] if stack else None,
                    "thread": threading.current_thread().name}
            if attrs is not None:
                span.update(attrs(*args, **kwargs))
            with rec._lock:
                rec.inflight[name] = rec.inflight.get(name, 0) + 1
            stack.append(span["id"])
            span["start"] = time.time()
            try:
                result = fn(*args, **kwargs)
                if isinstance(result, int):
                    span["value"] = result
                return result
            except BaseException as exc:
                span["error"] = error_class(exc)
                raise
            finally:
                span["end"] = time.time()
                stack.pop()
                with rec._lock:
                    rec.inflight[name] -= 1
                    rec.spans.append(span)

        setattr(owner, attr, wrapper)

    def busy(self, name: str) -> bool:
        with self._lock:
            return self.inflight.get(name, 0) > 0


def _parquet_target(self, path, *args, **kwargs):
    return {"path": str(path)}


def _epoch_arg(self, batch, epoch_id, *args, **kwargs):
    return {"epoch": int(epoch_id)}


def install(rec: Recorder, full: bool) -> None:
    """Install the wrappers; must run before ``run_app`` binds them."""
    from market_data_ingestor_go_spark.streaming import publisher
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline
    rec.wrap(IngestPipeline, "latest_snapshot", "serve.latest")
    rec.wrap(publisher.ServePublisher, "tick", "serve.tick")
    if not full:
        return
    from pyspark.sql.readwriter import DataFrameWriter

    from market_data_ingestor_go_spark.sources import fs
    rec.wrap(publisher, "resolve_connections", "serve.resolve")
    rec.wrap(publisher, "distinct_wire_views", "serve.views")
    rec.wrap(fs, "atomic_swap", "fs.atomic_swap")
    rec.wrap(fs, "read_with_backup", "fs.read_with_backup")
    rec.wrap(DataFrameWriter, "parquet", "writer.parquet", _parquet_target)
    rec.wrap(IngestPipeline, "_write_batch", "ingest.write_batch", _epoch_arg)


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event (with its receipt time) in memory."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        import json
        self.events.append({"received": time.time(),
                            "progress": json.loads(event.progress.json)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
