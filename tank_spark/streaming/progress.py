"""Import-progress reporting — the Spark-first form of the reference's
I7 (Tyler.kt:52-54: "#N features importing starts", a per-1000 "#i
features stored to DB", "#N features importing finished").

The reference can count up front because it holds the whole
FeatureCollection in memory and logs inside its sequential per-feature
loop; a distributed ingest has neither a driver-side loop nor a free
total. The idiomatic equivalents, both here:

- STREAMING (the drop-dir spool, S2/S5): a ``StreamingQueryListener``
  consuming the same per-micro-batch progress events the Spark UI
  renders — per epoch it logs rows ingested and the cumulative total,
  and on termination the reference's "importing finished" line. This
  is push-based and costs nothing: Spark already computes
  ``numInputRows`` for every batch.
- BATCH (the bulk NDJSON/GeoJSON/CSV routes): api.Tank._ingest_batch
  logs "importing starts" before the store tail (``Tank._ingest_raw``,
  which the stream's micro-batches run too, without these lines) and
  "#n features importing finished (accepted=.. rejected=..)" after —
  the counts the tail already returns, so no extra job.

Everything goes through the ``tank_spark.ingest`` logger; deployments
route it wherever the reference's log.info went.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger("tank_spark.ingest")


class IngestProgressListener(StreamingQueryListener):
    """Per-micro-batch import progress for ingest streams.

    Tracks cumulative input rows per query id; thread-safe enough for
    the listener bus's single dispatch thread. ``totals`` is exposed
    for tests and operational polling (query_id -> cumulative rows).
    """

    def __init__(self) -> None:
        self.totals: dict[str, int] = {}
        self.finished: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        self.totals[str(event.id)] = 0
        log.info("features importing starts (query=%s)", event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        qid = str(p.id)
        n = int(p.numInputRows)
        self.totals[qid] = self.totals.get(qid, 0) + n
        # the reference's "#i features stored to DB" cadence, one line
        # per epoch instead of per 1000 sequential rows
        log.info("#%d features stored (epoch batch=%s: %d rows, query=%s)",
                 self.totals[qid], p.batchId, n, qid)

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        qid = str(event.id)
        total = self.totals.get(qid, 0)
        self.finished[qid] = total
        log.info("#%d features importing finished (query=%s)", total, qid)


def attach_ingest_progress(spark: SparkSession) -> IngestProgressListener:
    """Register (and return) an IngestProgressListener on this session's
    streaming listener bus. Caller owns removal:
    ``spark.streams.removeListener(listener)``."""
    listener = IngestProgressListener()
    spark.streams.addListener(listener)
    return listener
