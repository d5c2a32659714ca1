"""sources.tables.session_memo (VERDICT r11 #5): the stream-replay
curation reports derive their disposition chain ONCE per session and
pay only the aggregate on re-runs; the memo evicts on input-table
fingerprint change like every other session cache in the repo."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR


def test_session_memo_builds_once_and_evicts_on_fingerprint(spark, tmp_path):
    from tank_spark import cache
    from tank_spark.sources.tables import session_memo

    before = cache.stats("tables.derived")
    dep = tmp_path / "documents.parquet"
    dep.write_bytes(b"v1")
    calls = []

    def builder():
        calls.append(1)
        return spark.range(5)

    a = session_memo(spark, str(tmp_path), "memo_t", ("documents",), builder)
    b = session_memo(spark, str(tmp_path), "memo_t", ("documents",), builder)
    assert a is b and len(calls) == 1  # second call serves the memo
    # input regenerated (different mtime/size) -> rebuild, old unpersisted
    dep.write_bytes(b"v2-longer")
    os.utime(dep, ns=(1, 1))
    c = session_memo(spark, str(tmp_path), "memo_t", ("documents",), builder)
    assert len(calls) == 2 and c is not a
    after = cache.stats("tables.derived")
    assert (after["hits"] - before["hits"], after["misses"] - before["misses"],
            after["evictions"] - before["evictions"]) == (1, 2, 1)


def test_stream_reports_serve_the_memoized_chain(spark):
    """After one run, every stream AND batch report's disposition side is the
    persisted relation — the registered entry's census cost is the
    aggregate's, not the replay chain's."""
    from tank_spark import cache
    from tank_spark.llm.dedup import (
        dedup_incremental_report,
        dedup_incremental_stream_report,
    )
    from tank_spark.llm.media_inc import (
        media_dedup_incremental_report,
        media_dedup_stream_report,
    )
    from tank_spark.llm.semdedup_inc import (
        semdedup_incremental_report,
        semdedup_stream_report,
    )

    app = spark.sparkContext.applicationId
    for fn, tag in ((dedup_incremental_stream_report, "dedup_inc_stream_disp"),
                    (media_dedup_stream_report, "media_dedup_stream_disp"),
                    (semdedup_stream_report, "semdedup_stream_disp"),
                    (dedup_incremental_report, "dedup_inc_batch_disp"),
                    (media_dedup_incremental_report, "media_dedup_inc_disp"),
                    (semdedup_incremental_report, "semdedup_inc_disp")):
        fn(spark, SF_DIR).collect()
        assert cache.lookup("tables.derived", (app, SF_DIR, tag)) is not None
        hits = cache.stats("tables.derived")["hits"]
        plan = (fn(spark, SF_DIR)._jdf.queryExecution()
                .executedPlan().toString())
        assert "InMemoryTableScan" in plan
        assert cache.stats("tables.derived")["hits"] == hits + 1
