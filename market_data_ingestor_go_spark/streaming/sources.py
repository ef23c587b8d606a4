"""Streaming sources — S1, the WebSocket ingest source.

The reference dials a market-data WS URL with an x-api-key header,
sends a subscribe message, reads frames forever, and reconnects with
exponential backoff 1 s → 30 s (ingestor.go:31-127). Spark 4's Python
streaming DataSource API (pyspark.sql.datasource) lets us express that
as a first-class ``spark.readStream.format("ws_market_data")`` source.

The network read prefers the ``websockets`` package and falls back to
the stdlib RFC 6455 client in streaming/ws_minimal.py, so the source
runs live even in this container (tests drive it against a local
WSServer; the ``prefetched_frames`` hook still injects frames for
pure-contract tests). A WS feed has no replay, so the source offers
at-least-once from the connection buffer (documented; the reference
is at-most-once, ingestor.go/processor.go).

The source also owns the reference's flush rule (``batchSize`` /
``flushIntervalMillis`` options, BATCH_SIZE / FLUSH_INTERVAL in
processor.go:71-80), so a query over it runs with a zero
processing-time trigger: Spark starts a batch as soon as the source
admits one instead of waiting for a trigger boundary.

File/rate sources (tests, backfill) come from streaming/pipeline.py.
"""

from __future__ import annotations

import json
import time

try:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )
    _HAS_DS_API = True
except ImportError:  # pragma: no cover - older pyspark
    DataSource = object
    SimpleDataSourceStreamReader = object
    _HAS_DS_API = False

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

WIRE_SCHEMA = StructType([
    StructField("name", StringType()),
    StructField("timestamp", LongType()),
    StructField("exchange", StringType()),
    StructField("data", StringType()),
])

RECONNECT_INITIAL_S = 1.0   # ingestor.go:37
RECONNECT_CAP_S = 30.0      # ingestor.go:52-56
IDLE_GAP_S = 0.05           # a live connection this quiet ends the read
DRAIN_WAIT_S = 0.001        # "readable now" when draining a full batch


class WebSocketStreamReader(SimpleDataSourceStreamReader):
    """Stream reader over a WS connection buffer, driver-side.

    A WS feed is a push source with no seekable log, so the connection
    (and its buffer — the 10k-message channel, main.go:61) must live in
    one long-lived process. That is exactly the
    ``SimpleDataSourceStreamReader`` contract: ``read`` runs in the
    driver-side source runner and Spark persists each batch's rows to
    the checkpoint WAL for replay — a partition-based reader would
    re-instantiate on executors and never see this buffer.

    Offset = count of frames handed to Spark since the source started.
    The buffer keeps un-committed frames only: ``commit`` trims it and
    advances ``_base`` (the absolute offset of ``_buffer[0]``), so
    ``readBetweenOffsets`` can replay any in-flight range after a
    restart while memory stays bounded by maxFramesPerTrigger plus the
    uncommitted window.

    Flush rule (processor.go:71-80): a read hands Spark a new end
    offset once ``batchSize`` frames are pending, or once
    ``flushIntervalMillis`` has passed since the last flush with at
    least one frame pending; otherwise it returns its start offset and
    no rows, and Spark runs no batch. A batch admits everything
    buffered (up to maxFramesPerTrigger), not exactly ``batchSize``
    rows: a micro-batch's fixed cost dwarfs a per-row one.
    """

    def __init__(self, options):
        self.url = options.get("url", "")
        self.api_key = options.get("api_key", "")
        self.symbols = json.loads(options.get("symbols", "[]"))
        self.max_per_trigger = int(options.get("maxFramesPerTrigger", "10000"))
        self.batch_size = min(self.max_per_trigger,
                              max(1, int(options.get("batchSize", "100"))))
        self.flush_interval_s = int(
            options.get("flushIntervalMillis", "2000")) / 1000.0
        self._flush_at = time.monotonic() + self.flush_interval_s
        self._buffer: list[tuple] = []
        self._base = 0       # absolute offset of _buffer[0]
        self._served = 0     # absolute offset served to Spark so far
        self._ws = None
        self._backoff = RECONNECT_INITIAL_S
        self._retry_at = 0.0  # no redial before this monotonic time
        self.reconnects = 0  # observability: reconnect cycles survived

    def initialOffset(self) -> dict:
        return {"count": 0}

    def _connect(self):
        """Dial + subscribe handshake (ingestor.go:63-77). Prefers the
        ``websockets`` package; falls back to the stdlib RFC 6455
        client in streaming/ws_minimal.py (same send/recv surface)."""
        try:
            import websockets.sync.client as ws_client
            conn = ws_client.connect(
                self.url, additional_headers={"x-api-key": self.api_key})
        except ImportError:
            from .ws_minimal import connect as ws_connect
            conn = ws_connect(self.url, headers={"x-api-key": self.api_key})
        conn.send(json.dumps({"event": "subscribe", "symbols": self.symbols}))
        return conn

    def _append(self, msg: dict) -> None:
        self._buffer.append((
            msg.get("name"), msg.get("timestamp"), msg.get("exchange"),
            json.dumps(msg.get("data")) if msg.get("data") is not None else None))

    def prefetched_frames(self, frames: list[dict]) -> None:
        """Test hook: enqueue decoded frames as if read off the wire."""
        for f in frames:
            self._append(f)

    def _pending(self) -> int:
        return self._base + len(self._buffer) - self._served

    def _flush_due(self) -> bool:
        pending = self._pending()
        return pending >= self.batch_size or (
            pending > 0 and time.monotonic() >= self._flush_at)

    def _recv(self, timeout: float):
        """One message off the wire, or None when none arrives within
        ``timeout``. A dropped connection (or a failed dial) is closed
        and redialled no sooner than the 1 s → 30 s exponential
        backoff allows (ingestor.go:52-56); waiting out the backoff
        also returns None, so a down feed never wedges ``read``."""
        if self._ws is None:
            wait = self._retry_at - time.monotonic()
            if wait > 0:
                time.sleep(min(wait, timeout))
                return None
        try:
            if self._ws is None:
                self._ws = self._connect()
                self._backoff = RECONNECT_INITIAL_S
            return self._ws.recv(timeout=timeout)
        except TimeoutError:
            return None
        except Exception:
            try:
                if self._ws is not None:
                    self._ws.close()
            except Exception:
                pass
            self._ws = None
            self.reconnects += 1
            self._retry_at = time.monotonic() + self._backoff
            self._backoff = min(self._backoff * 2, RECONNECT_CAP_S)
            return None

    def _poll(self) -> None:
        """Read the wire into the buffer until a flush is due and what
        is readable now has been drained (up to maxFramesPerTrigger),
        the flush deadline passes, or the connection idles for
        ``IDLE_GAP_S``. An idle-but-live connection is NOT a
        disconnect; either way the read ends and Spark asks again.
        Spark plans a batch for a new query's first offset even when
        it adds no rows, so until the first flush an idle gap does not
        end the read — the deadline does."""
        while self._pending() < self.max_per_trigger:
            remaining = self._flush_at - time.monotonic()
            if self._flush_due():
                timeout = DRAIN_WAIT_S
            elif remaining > 0:
                timeout = remaining if self._served == 0 else min(
                    IDLE_GAP_S, remaining)
            else:
                timeout = IDLE_GAP_S  # overdue: flush on the first frame
            raw = self._recv(timeout)
            if raw is None:
                return
            try:
                self._append(json.loads(raw))
            except ValueError:
                continue  # unmarshal error → drop (ingestor.go:105-110)

    def _slice(self, start: int, end: int) -> list[tuple]:
        lo = max(0, start - self._base)
        hi = max(0, end - self._base)
        return self._buffer[lo:hi]

    def read(self, start: dict):
        """One ``latestOffset`` call: poll the wire, then hand Spark
        [start, latest) if the flush rule fires, else nothing. With no
        URL there is no wire to wait on — the buffer (filled through
        ``prefetched_frames``) is all there is, so it flushes at once."""
        if self.url:
            self._poll()
        if not (self._flush_due() if self.url else self._pending() > 0):
            return iter(()), start
        end = {"count": self._base + len(self._buffer)}
        self._served = end["count"]
        self._flush_at = time.monotonic() + self.flush_interval_s
        return iter(self._slice(start["count"], end["count"])), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay an in-flight (uncommitted) range — ONLY while the
        buffer still covers it. A restarted process has a fresh reader
        (empty buffer, _base=0): a WS feed has no seekable log, so a
        replay request it can't serve is DATA LOSS and must fail the
        batch loudly instead of completing with zero rows (the silent
        empty iterator claimed exactly-once while dropping the range)."""
        lo, hi = start["count"], end["count"]
        have_lo, have_hi = self._base, self._base + len(self._buffer)
        if lo < have_lo or hi > have_hi:
            raise RuntimeError(
                f"ws source cannot replay offsets [{lo}, {hi}): buffer covers "
                f"[{have_lo}, {have_hi}). A restarted process starts with an "
                "empty buffer — the planned-but-uncommitted range is lost "
                "(at-least-once holds only within one source process).")
        return iter(self._slice(lo, hi))

    def commit(self, end: dict) -> None:
        """Trim frames at offsets below ``end`` — they are in the
        checkpoint WAL now and will never be asked for again."""
        drop = max(0, end["count"] - self._base)
        if drop:
            del self._buffer[:drop]
            self._base += drop


class WebSocketDataSource(DataSource):
    """spark.readStream.format("ws_market_data").options(url=..., api_key=...)"""

    @classmethod
    def name(cls) -> str:
        return "ws_market_data"

    def schema(self):
        return WIRE_SCHEMA

    def simpleStreamReader(self, schema):
        return WebSocketStreamReader(self.options)


def register(spark) -> bool:
    """Register the WS source if this Spark build has the Python
    DataSource API; returns False (no-op) otherwise."""
    if not _HAS_DS_API:
        return False
    spark.dataSource.register(WebSocketDataSource)
    return True
