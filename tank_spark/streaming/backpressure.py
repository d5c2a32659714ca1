"""Adaptive ingest backpressure — the reference's I6
(Tyler.kt:145-176) at the micro-batch altitude.

The reference wraps every Cassandra INSERT in a retry loop: on
overload (QueryExecutionException / OperationTimedOutException) it
logs, grows a shared delay (``delay += delay + 1000`` ms — roughly
doubling) and retries the same statement; every successful insert
decays the delay by 1000 ms. The effect is a rate throttle that backs
off while the store is pressured and relaxes when it recovers.

A distributed ingest has no per-row driver loop; the unit of storage
work is the micro-batch sink phase (foreachBatch). Spark's task
retries already cover executor-task failures INSIDE a write job —
what they do not cover is the driver-side sink raising (storage
temporarily unavailable, quota, throttled object store): by default
that kills the streaming query. AdaptiveBackoff is the reference's
loop at that altitude: each sink phase runs through ``call``; a
failure grows the shared delay (2x + step, the reference's curve) and
re-runs the phase, a success decays it (step per success). Retries
are BOUNDED (the reference retries forever; a poisoned epoch should
surface, not hang the stream silently — the dead-letter table is the
escape for per-row poison).

Retry safety: a failed ``df.write.parquet`` attempt commits nothing —
task output lives under the FileOutputCommitter's _temporary until
job commit, so re-running the phase cannot duplicate committed rows.
The ingest stream passes ``call`` as the commit-phase runner of
``api.Tank._ingest_raw``, one call PER PHASE (accepted-store,
rejects-store), for the same reason: a phase that already committed is
never re-entered because a LATER phase failed.
"""

from __future__ import annotations

import logging
import time
from typing import Callable, TypeVar

log = logging.getLogger("tank_spark.ingest")

T = TypeVar("T")


class AdaptiveBackoff:
    """Shared-delay retry loop (reference semantics, micro-batch unit).

    ``step_s``: the decay-per-success and the additive growth term
    (the reference's 1000 ms). ``max_retries``: attempts beyond the
    first before the exception propagates; 0 = plain pass-through
    call (no retry, no sleep while the delay is 0 — the default
    ingest posture stays byte-identical to the pre-backpressure one).
    ``sleep`` is injectable for tests.
    """

    def __init__(self, step_s: float = 1.0, max_retries: int = 0,
                 sleep: Callable[[float], None] = time.sleep) -> None:
        self.step_s = float(step_s)
        self.max_retries = int(max_retries)
        self.delay = 0.0
        self._sleep = sleep

    def call(self, fn: Callable[[], T], what: str = "sink phase") -> T:
        attempt = 0
        while True:
            if self.delay > 0:
                self._sleep(self.delay)
            try:
                out = fn()
            except Exception as e:
                if attempt >= self.max_retries:
                    raise
                attempt += 1
                # the reference's growth curve: delay += delay + step
                self.delay = self.delay * 2 + self.step_s
                log.warning(
                    "Increasing ingest delay due storage pressure "
                    "(now at %.1f s, attempt %d/%d, %s, cause %s)",
                    self.delay, attempt, self.max_retries, what, e)
                continue
            # the reference's decay: -step per success, floored at 0
            self.delay = max(0.0, self.delay - self.step_s)
            return out
