"""Custom ``sbs1`` Python streaming data source (SURVEY.md §4.3, §7.1 M4).

Re-expresses the reference's TCP client loop -- connect with retry/backoff,
recv into a carry buffer, split lines, stamp receive time (Appendix A
L64-L77, L92-L124, L155-L166) -- as a Spark 4 ``DataSource`` +
``SimpleDataSourceStreamReader``:

- options mirror the reference CLI (A13): ``location``, ``port``,
  ``buffer_size``, ``connect_attempt_limit``, ``connect_attempt_delay``;
- per-ROW receive timestamp (``ingest_ts``) -- the faithful
  ``parsed_time`` semantics the reference has and per-batch
  ``current_timestamp()`` lacks (SURVEY.md §7.4.2);
- offsets are cumulative line counts; a bounded replay cache makes
  recent offset ranges re-readable so micro-batch retries don't lose
  data. Ephemeral-TCP loss on disconnect is inherent to the medium and
  identical to the reference (SURVEY.md §3.2) -- mitigate upstream with
  a durable bus if needed.

Scale note: one TCP broadcast is a single-connection, low-rate feed
(~10-1.5k msg/s, BASELINE.md), so a driver-side simple reader is the
right tool for ONE feed, and it needs no jar. Multi-receiver ingest is
the JVM-native ``sbs1-jvm`` source (java/src/sbs1/Sbs1JvmSource.java,
sources/sbs1_jvm.py glue): one drain thread per receiver, framing on
JVM threads, measured at 0.9-1.6M rows/s.
"""

from __future__ import annotations

import socket
import time
from collections import deque
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

#: Bronze schema: raw line + receive-side timestamp.
SBS1_BRONZE_DDL = "value string, ingest_ts timestamp"


class Sbs1StreamReader(SimpleDataSourceStreamReader):
    """Driver-side reader with reconnect/backoff and partial-line carry."""

    def __init__(self, options: dict):
        self.host = options.get("location", "localhost")
        self.port = int(options.get("port", 30003))
        self.buffer_size = int(options.get("buffer_size", 65536))
        self.attempt_limit = int(options.get("connect_attempt_limit", 10))
        self.attempt_delay = float(options.get("connect_attempt_delay", 5.0))
        self.max_lines_per_batch = int(options.get("max_lines_per_batch", 100000))
        self.replay_capacity = int(options.get("replay_capacity", 1_000_000))
        self._sock: socket.socket | None = None
        self._carry = b""  # partial-line carry across recvs (A2)
        self._next_line = 0  # cumulative line counter = offset
        self._replay: deque[tuple[int, tuple]] = deque(maxlen=self.replay_capacity)

    # -- offset protocol ----------------------------------------------------

    def initialOffset(self) -> dict:
        return {"line": 0}

    def read(self, start: dict):
        rows = self._poll_lines()
        for i, row in enumerate(rows):
            self._replay.append((self._next_line + i, row))
        self._next_line += len(rows)
        return iter(rows), {"line": self._next_line}

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = start["line"], end["line"]
        return iter(
            row for line_no, row in self._replay if lo <= line_no < hi
        )

    def commit(self, end: dict) -> None:
        # Offsets up to `end` are durably checkpointed; drop replay rows.
        while self._replay and self._replay[0][0] < end["line"]:
            self._replay.popleft()

    # -- socket management (A1/A9 parity) ------------------------------------

    def _connect(self) -> socket.socket:
        attempts = 0
        while True:
            try:
                s = socket.create_connection(
                    (self.host, self.port), timeout=self.attempt_delay
                )
                s.setblocking(False)
                return s
            except OSError:
                attempts += 1
                if attempts >= self.attempt_limit:
                    raise ConnectionError(
                        f"sbs1: gave up connecting to {self.host}:{self.port} "
                        f"after {attempts} attempts"
                    )
                time.sleep(self.attempt_delay)

    def _poll_lines(self) -> list[tuple]:
        """Drain whatever the socket has right now into framed lines."""
        if self._sock is None:
            self._sock = self._connect()
        rows: list[tuple] = []
        while len(rows) < self.max_lines_per_batch:
            try:
                chunk = self._sock.recv(self.buffer_size)
            except BlockingIOError:
                break  # nothing more buffered; end the micro-batch
            except OSError:
                chunk = b""
            if chunk == b"":
                # dead connection (empty recv, Appendix A L98) -> reconnect
                try:
                    self._sock.close()
                finally:
                    self._sock = None
                break
            self._carry += chunk
            *complete, self._carry = self._carry.split(b"\n")
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            rows.extend(
                (line.decode("utf-8", errors="replace").rstrip("\r"), now)
                for line in complete
                if line
            )
        return rows


class Sbs1DataSource(DataSource):
    """``spark.readStream.format("sbs1")`` -- one SBS-1 BaseStation TCP
    feed (``location``/``port`` options) through the driver-side simple
    reader. Many receivers go through the JVM ``sbs1-jvm`` source."""

    @classmethod
    def name(cls) -> str:
        return "sbs1"

    def schema(self) -> str:
        return SBS1_BRONZE_DDL

    def simpleStreamReader(self, schema: StructType) -> Sbs1StreamReader:
        return Sbs1StreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Idempotently register the source with a session.

    The class is registered for pickle-BY-VALUE: Spark's data source
    workers (create_data_source / python_streaming_source_runner) unpickle
    it in processes that don't have this repo on sys.path, and the
    streaming runner doesn't honor addPyFile. By-value embeds the module
    code in the pickle, so the source works regardless of deploy layout.
    """
    import sys

    from pyspark import cloudpickle

    mod = sys.modules[__name__]
    try:
        cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass
    spark.dataSource.register(Sbs1DataSource)
