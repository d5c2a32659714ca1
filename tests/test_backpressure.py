"""I6 adaptive backpressure (Tyler.kt:145-176) at the micro-batch
altitude: the AdaptiveBackoff growth/decay/bound semantics, and the
ingest stream recovering through a REAL transient storage failure
without duplicating committed rows."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest


@pytest.fixture()
def tmp_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("drop", "table", "ckpt")}
    (tmp_path / "drop").mkdir()
    return d


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_backoff_growth_decay_and_bound():
    from tank_spark.streaming.backpressure import AdaptiveBackoff

    sleeps: list[float] = []
    bo = AdaptiveBackoff(step_s=1.0, max_retries=3, sleep=sleeps.append)
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise IOError("storage pressure")
        return "ok"

    assert bo.call(flaky) == "ok"
    # failures grew the delay 0 -> 1 -> 3 (2x + step, the reference's
    # curve); the successful attempt then decayed it by one step
    assert sleeps == [1.0, 3.0]
    assert bo.delay == 2.0
    # successes keep decaying to the floor
    bo.call(lambda: None)
    bo.call(lambda: None)
    bo.call(lambda: None)
    assert bo.delay == 0.0

    # bounded: one more failure than max_retries propagates
    bo2 = AdaptiveBackoff(step_s=1.0, max_retries=1, sleep=lambda s: None)

    def always_fails():
        raise IOError("down")

    with pytest.raises(IOError):
        bo2.call(always_fails)


def test_backoff_zero_retries_is_passthrough():
    """max_retries=0 (the default ingest posture) must not retry and
    must not sleep — byte-identical behavior to the pre-backpressure
    sink."""
    from tank_spark.streaming.backpressure import AdaptiveBackoff

    slept = []
    bo = AdaptiveBackoff(step_s=1.0, max_retries=0, sleep=slept.append)
    with pytest.raises(ValueError):
        bo.call(lambda: (_ for _ in ()).throw(ValueError("x")))
    assert slept == []


def test_ingest_stream_recovers_through_transient_storage_failure(
        spark, tmp_dirs):
    """The e2e I6 drive: the table path is BLOCKED (a regular file sits
    where the table directory must be created) when the stream's first
    epoch commits; a background 'operator' clears it ~3s in. With
    sink_max_retries enabled the epoch retries through the growing
    delay and lands EXACTLY the expected rows — no loss, no
    duplication (a failed parquet write commits nothing)."""
    from tank_spark.api import Tank
    from tank_spark.streaming.ingest import start_ingest_stream

    tank = Tank(spark, tmp_dirs["table"])

    rows = [{"id": f"r{i}", "lon": float(i % 90), "lat": float(i % 45),
             "kind": "poi"} for i in range(8)]
    _write_ndjson(f"{tmp_dirs['drop']}/b1.ndjson", rows)

    # block the table path with a regular file -> the bucket append
    # cannot create the directory and raises (the transient failure)
    with open(tmp_dirs["table"], "w") as f:
        f.write("blocker")

    def clear_blocker():
        time.sleep(3)
        os.remove(tmp_dirs["table"])

    t = threading.Thread(target=clear_blocker, daemon=True)
    t.start()
    q = start_ingest_stream(
        spark, tank, tmp_dirs["drop"], tmp_dirs["ckpt"],
        sink_max_retries=5, sink_backoff_s=1.0,
    )
    q.awaitTermination(120)
    t.join()

    stored = spark.read.parquet(tmp_dirs["table"])
    assert stored.count() == len(rows)  # exactly once: no loss, no dupes
    assert sorted(r["uid"] for r in stored.collect()) == \
        sorted(r["id"] for r in rows)


def test_ingest_stream_fail_fast_without_retries(spark, tmp_dirs):
    """Default posture unchanged: with sink_max_retries=0 a blocked
    table path kills the query (Spark's standard foreachBatch
    behavior), it does not silently spin."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from tank_spark.api import Tank
    from tank_spark.streaming.ingest import start_ingest_stream

    tank = Tank(spark, tmp_dirs["table"])

    _write_ndjson(f"{tmp_dirs['drop']}/b1.ndjson",
                  [{"id": "a", "lon": 1.0, "lat": 2.0, "kind": "poi"}])
    with open(tmp_dirs["table"], "w") as f:
        f.write("blocker")
    q = start_ingest_stream(spark, tank, tmp_dirs["drop"], tmp_dirs["ckpt"])
    # awaitTermination re-raises the query's failure; a clean
    # termination instead would return without raising and fail the
    # pytest.raises expectation
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    os.remove(tmp_dirs["table"])
