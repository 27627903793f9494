"""Progress metrics + restart supervision (A10/A11 parity).

The reference keeps ``count_total`` / ``count_since_commit`` ints and
prints "caught up" lines (Appendix A L30-L32, L131-L140). Spark already
measures everything per micro-batch; this listener surfaces the same
counters, and ``supervise`` restarts a failed query the way the
reference's reconnect loop restarts its socket (Appendix A L155-L166)
-- checkpointing makes the restart resume exactly where it stopped.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger(__name__)


class IngestCounters(StreamingQueryListener):
    """count_total / rate counters off the streaming progress events."""

    def __init__(self, verbose: bool = False):
        self.count_total = 0
        self.last_batch_rows = 0
        self.verbose = verbose

    def onQueryStarted(self, event):
        if self.verbose:
            print(f"stream started: {event.id}")

    def onQueryProgress(self, event):
        rows = event.progress.numInputRows
        self.last_batch_rows = rows
        self.count_total += rows
        if self.verbose:
            print(
                f"{event.progress.timestamp} batch={event.progress.batchId} "
                f"rows={rows} total={self.count_total}"
            )

    def onQueryTerminated(self, event):
        if self.verbose:
            print(f"stream terminated: {event.id} total={self.count_total}")

    def onQueryIdle(self, event):
        pass


def supervise(start_query, attempt_limit: int = 10, delay: float = 5.0):
    """Restart-on-failure loop around a streaming query factory.

    ``start_query()`` must return a started StreamingQuery. Mirrors the
    reference's connect_attempt_limit/_delay semantics at the query
    level; returns when the query stops cleanly or attempts exhaust.
    Each failure is logged with its exception, and the final
    ``RuntimeError`` chains the last one as its ``__cause__``.
    """
    last: Exception | None = None
    for attempt in range(1, attempt_limit + 1):
        query = start_query()
        try:
            query.awaitTermination()
            return  # clean stop
        except Exception as exc:
            last = exc
            log.warning(
                "stream failed (attempt %d of %d)",
                attempt, attempt_limit, exc_info=exc,
            )
            time.sleep(delay)
    raise RuntimeError(
        f"stream failed {attempt_limit} times; giving up"
    ) from last
