"""tank_spark.cache — the one session-cache primitive: per-path file
fingerprints, fingerprint staleness (release + rebuild), a per-namespace
LRU bound, hit/miss/evict counters, and the rule that no other module
keeps a process-global cache of its own."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from tank_spark import cache
from tests.conftest import SF_DIR


def _delta(ns, before):
    after = cache.stats(ns)
    return {k: after[k] - before[k] for k in ("hits", "misses", "evictions")}


def test_fingerprint_per_path_and_missing_file(tmp_path):
    a = tmp_path / "a.parquet"
    a.write_bytes(b"xyz")
    st = os.stat(a)
    assert cache.fingerprint(str(a), str(tmp_path / "gone.parquet")) == (
        (st.st_mtime_ns, 3), (0, 0))
    assert cache.fingerprint() == ()


def test_dir_version_follows_partition_dirs(tmp_path):
    """The directory version covers the partition directories down to
    ``depth``: a file added two levels down moves a depth-2 version and
    not a depth-1 one; a missing directory has the (0, 0) version."""
    leaf = tmp_path / "kind=tile" / "z=3"
    leaf.mkdir(parents=True)
    (leaf / "a.parquet").write_bytes(b"a")
    (tmp_path / "_rejects").mkdir()   # not a partition directory
    d = str(tmp_path)
    v1, v2 = cache.dir_version(d, 1), cache.dir_version(d, 2)
    assert [rel for rel, *_ in v2] == ["", "/kind=tile", "/kind=tile/z=3"]
    os.utime(leaf, ns=(1, 1))   # so the write below surely moves it
    v2 = cache.dir_version(d, 2)
    (leaf / "b.parquet").write_bytes(b"b")
    assert cache.dir_version(d, 1) == v1
    assert cache.dir_version(d, 2) != v2
    assert cache.dir_version(str(tmp_path / "gone"), 1) == (("", 0, 0),)


def test_dir_version_of_uris(tmp_path):
    """A 'file:' URI has its plain path's version; a remote path raises
    rather than passing for a missing directory whose version never
    moves."""
    (tmp_path / "bucket=1").mkdir()
    d = str(tmp_path)
    assert cache.dir_version("file://" + d, 1) == cache.dir_version(d, 1)
    assert cache.dir_version("file:" + d, 1) == cache.dir_version(d, 1)
    with pytest.raises(ValueError, match="local directory"):
        cache.dir_version("hdfs://nn/tables/features", 1)


def test_tile_cache_put_then_get_in_one_session(spark, tmp_path):
    """A blob put is served by the next get, from the in-process front:
    that hit looks up no table handle. The put moves the directory
    version, so another key's entry re-probes the table once."""
    from tank_spark.operators.tile_cache import FRONT, TileCache

    tc = TileCache(spark, str(tmp_path / "cache"))
    assert tc.get("tile", 9, 80, 196) is None
    tc.put("tile", 9, 80, 196, b"blob-1")
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    tc.put("heatmap", 9, 80, 196, b"hm-1")
    before, front = cache.stats("table_ops.table"), cache.stats(FRONT)
    assert tc.get("heatmap", 9, 80, 196) == b"hm-1"
    assert _delta("table_ops.table", before) == {
        "hits": 0, "misses": 0, "evictions": 0}
    assert _delta(FRONT, front) == {"hits": 1, "misses": 0, "evictions": 0}
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    assert _delta("table_ops.table", before) == {
        "hits": 0, "misses": 1, "evictions": 0}
    assert _delta(FRONT, front) == {"hits": 2, "misses": 1, "evictions": 1}


def test_tile_cache_front_checks_ttl_on_every_serve(spark, tmp_path, monkeypatch):
    """A blob older than the TTL is not served, from the front or from
    the table probe."""
    import time

    from tank_spark.operators.tile_cache import TileCache

    tc = TileCache(spark, str(tmp_path / "cache"), ttl_seconds=60)
    tc.put("tile", 9, 80, 196, b"blob-1")
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    later = time.time() + 61
    monkeypatch.setattr(time, "time", lambda: later)
    assert tc.get("tile", 9, 80, 196) is None
    cache.clear()
    assert tc.get("tile", 9, 80, 196) is None
    monkeypatch.undo()
    assert tc.get("tile", 9, 80, 196) == b"blob-1"


def test_tile_cache_front_sees_an_append_it_did_not_make(spark, tmp_path):
    """A newer blob for a key, appended by Spark outside the front, moves
    the directory version: the next get serves it."""
    import time

    from tank_spark.operators.tile_cache import TileCache

    d = str(tmp_path / "cache")
    tc = TileCache(spark, d)
    tc.put("tile", 9, 80, 196, b"blob-1")
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    (spark.createDataFrame(
        [("tile", 9, 80, 196, bytearray(b"blob-2"), time.time() + 1)],
        "kind string, z int, x int, y int, blob binary, created_at double")
     .write.mode("append").partitionBy("kind", "z").parquet(d))
    assert tc.get("tile", 9, 80, 196) == b"blob-2"


def test_tile_cache_put_vouches_only_for_its_own_key(spark, tmp_path,
                                                     monkeypatch):
    """A newer blob another writer appends while a put runs is served by
    the next get of its key: the put moves the directory version, and
    only the put key is stored under the new one."""
    import os
    import time

    from tank_spark.operators.tile_cache import TileCache

    d = str(tmp_path / "cache")
    tc = TileCache(spark, d)
    tc.put("tile", 9, 81, 196, b"old")
    assert tc.get("tile", 9, 81, 196) == b"old"
    rename = os.replace

    def rename_then_foreign_append(src, dst):
        rename(src, dst)
        (spark.createDataFrame(
            [("tile", 9, 81, 196, bytearray(b"new"), time.time() + 1)],
            "kind string, z int, x int, y int, blob binary, created_at double")
         .write.mode("append").partitionBy("kind", "z").parquet(d))

    monkeypatch.setattr(os, "replace", rename_then_foreign_append)
    tc.put("tile", 9, 80, 196, b"blob-1")
    monkeypatch.undo()
    assert tc.get("tile", 9, 81, 196) == b"new"
    assert tc.get("tile", 9, 80, 196) == b"blob-1"


def test_tile_cache_invalidation_marks_at_most_the_front_cap(
        spark, tmp_path, monkeypatch):
    """An invalidation counts every key it deletes but holds at most
    ``cache.MEMO_CAP`` of them as absent in the front; every deleted key
    reads as absent."""
    from tank_spark.operators.tile_cache import FRONT, TileCache

    monkeypatch.setattr(cache, "MEMO_CAP", 4)
    tc = TileCache(spark, str(tmp_path / "cache"))
    keys = [(9, 80 + i, 196) for i in range(6)]
    for k in keys:
        tc.put("tile", *k, b"blob")
    before = cache.stats(FRONT)
    assert tc.invalidate_cover(keys, []) == 6
    assert cache.stats(FRONT)["evictions"] == before["evictions"]
    held = [cache.lookup(FRONT, tc._key("tile", *k), "none") for k in keys]
    assert held.count(None) == 4
    assert all(tc.get("tile", *k) is None for k in keys)


def test_tile_cache_writers_drop_the_front(spark, tmp_path, monkeypatch):
    """With the directory version frozen, a put and an invalidation made
    in this process are still seen exactly: every writer replaces or drops
    the front's entries for its directory."""
    from tank_spark.operators.tile_cache import TileCache

    monkeypatch.setattr(cache, "dir_version", lambda *a, **k: ())
    tc = TileCache(spark, str(tmp_path / "cache"))
    assert tc.get("tile", 9, 80, 196) is None
    tc.put("tile", 9, 80, 196, b"blob-1")
    tc.put("tile", 9, 81, 196, b"other")
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    tc.put("tile", 9, 80, 196, b"blob-2")
    assert tc.get("tile", 9, 80, 196) == b"blob-2"
    assert tc.get("tile", 9, 81, 196) == b"other"
    assert tc.invalidate_cover([(9, 80, 196)], []) == 1
    assert tc.get("tile", 9, 80, 196) is None
    assert tc.get("tile", 9, 81, 196) == b"other"


def test_tile_cache_put_reads_back_through_the_table(spark, tmp_path):
    """A driver-side put is a Spark-readable cache row: with the front
    cleared, the table probe serves the blob byte-identical, and the
    table's Spark schema is the one Spark's own writer gives it."""
    import time

    from tank_spark.operators.tile_cache import TileCache

    schema = "kind string, z int, x int, y int, blob binary, created_at double"
    d = str(tmp_path / "cache")
    blob = bytes(range(256)) * 3
    tc = TileCache(spark, d)
    tc.put("tile", 9, 80, 196, blob)
    tc.put("heatmap", 10, 160, 392, b"")
    cache.clear()
    assert tc.get("tile", 9, 80, 196) == blob
    assert tc.get("heatmap", 10, 160, 392) == b""
    ref = str(tmp_path / "ref")
    (spark.createDataFrame([("tile", 9, 80, 196, bytearray(blob), time.time())],
                           schema)
     .write.partitionBy("kind", "z").parquet(ref))
    got = spark.read.parquet(d).schema
    assert got == spark.read.parquet(ref).schema
    assert sorted(got.simpleString()[7:-1].split(",")) == sorted(
        f.replace(" ", ":") for f in schema.split(", "))


def test_stale_fingerprint_releases_and_rebuilds():
    ns = "test.stale"
    cache.clear(ns)
    before = cache.stats(ns)
    built, released = [], []

    def get(fp):
        return cache.cached(ns, "k", lambda: built.append(fp) or f"v{fp}",
                            (fp,), released.append)

    assert get(1) == "v1" and get(1) == "v1"
    assert get(2) == "v2"
    assert built == [1, 2] and released == ["v1"]
    assert _delta(ns, before) == {"hits": 1, "misses": 2, "evictions": 1}
    # a failed rebuild leaves a miss behind, never the released value
    with pytest.raises(ZeroDivisionError):
        cache.cached(ns, "k", lambda: 1 // 0, (3,), released.append)
    assert released == ["v1", "v2"] and cache.lookup(ns, "k") is None
    assert cache.stats(ns)["size"] == 0


def test_clear_releases_matching_keys_only():
    ns = "test.clear"
    cache.clear(ns)
    released = []
    for k in ("a", "b", "c"):
        cache.cached(ns, k, lambda k=k: k.upper(), release=released.append)
    assert cache.clear(ns, lambda k: k != "b") == 2
    assert sorted(released) == ["A", "C"]
    assert cache.lookup(ns, "b") == "B" and cache.lookup(ns, "a") is None


def test_memo_caches_are_lru_bounded(monkeypatch):
    """A long-lived tile server over many (data version, request batch)
    keys must not grow the driver-side memos without bound — entries
    evict LRU at MEMO_CAP (ADVICE r4)."""
    monkeypatch.setattr(cache, "MEMO_CAP", 3)
    ns = "test.lru"
    cache.clear(ns)
    before = cache.stats(ns)

    def hit(k):  # a hit refreshes recency and never builds
        return cache.cached(ns, k, lambda: pytest.fail(f"{k!r} rebuilt"))

    for i in range(5):
        cache.cached(ns, i, lambda i=i: [i])
    assert cache.stats(ns)["size"] == 3
    assert cache.lookup(ns, 0) is None  # oldest evicted
    assert cache.lookup(ns, 1) is None
    assert hit(2) == [2]

    # a hit refreshes recency: touch 2, insert two more -> 3/4 evict, 2 stays
    cache.cached(ns, 5, lambda: [5])
    hit(2)
    cache.cached(ns, 6, lambda: [6])
    assert cache.lookup(ns, 3) is None
    assert hit(2) == [2]
    assert hit(6) == [6]

    # falsy values are legitimate cache entries, not misses
    cache.cached(ns, "empty", lambda: [])
    assert hit("empty") == []
    assert _delta(ns, before) == {"hits": 5, "misses": 8, "evictions": 5}


def test_tile_burst_does_not_evict_table_loads(monkeypatch):
    """The bound is per namespace: a burst of tile batches fills its own
    LRU and leaves the session's table loads resident."""
    monkeypatch.setattr(cache, "MEMO_CAP", 2)
    cache.clear("test.tables")
    cache.clear("test.tiles")
    released = []
    cache.cached("test.tables", "lineitem", lambda: "rel", (1,),
                 released.append)
    for i in range(10):
        cache.cached("test.tiles", i, lambda i=i: i)
    assert cache.lookup("test.tables", "lineitem") == "rel"
    assert released == []
    assert cache.stats("test.tiles")["size"] == 2


def test_release_failure_does_not_fail_the_lookup(monkeypatch):
    """A release that raises (an evicted relation of a stopped session
    cannot unpersist) still lets the insert that evicted it return."""
    monkeypatch.setattr(cache, "MEMO_CAP", 1)
    ns = "test.release_fails"
    cache.clear(ns)

    def gone(_value):
        raise RuntimeError("owner stopped")

    cache.cached(ns, "old", lambda: 1, release=gone)
    assert cache.cached(ns, "new", lambda: 2) == 2
    assert cache.lookup(ns, "old") is None


def test_concurrent_lookups_lose_no_updates(monkeypatch):
    """Threads serving from one namespace (foreachBatch callbacks run on
    their own threads) under constant LRU churn keep the counters and
    the store consistent."""
    import sys
    import threading

    monkeypatch.setattr(cache, "MEMO_CAP", 4)
    ns = "test.threads"
    cache.clear(ns)
    before = cache.stats(ns)
    n_threads, n_calls = 2 * (os.cpu_count() or 2), 5000
    errors = []

    def work():
        try:
            for i in range(n_calls):
                cache.cached(ns, i % 7, lambda i=i: i % 7)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    d = _delta(ns, before)
    assert d["hits"] + d["misses"] == n_threads * n_calls
    assert cache.stats(ns)["size"] == 4


def test_features_df_follows_lineitem_rewrite(spark, tmp_path):
    """features_df is derived from lineitem.parquet: rewriting the file
    in-session must rebuild the persisted features table, so its count
    follows load(lineitem) instead of serving the old version."""
    import pyarrow.parquet as pq

    from tank_spark.sources.features import features_df
    from tank_spark.sources.tables import load

    src = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    d = str(tmp_path)
    pq.write_table(src, f"{d}/lineitem.parquet")
    assert features_df(spark, d).count() == src.num_rows
    assert load(spark, d, "lineitem").count() == src.num_rows

    fewer = src.slice(0, src.num_rows // 2)
    pq.write_table(fewer, f"{d}/lineitem.parquet")
    assert load(spark, d, "lineitem").count() == fewer.num_rows
    assert features_df(spark, d).count() == fewer.num_rows


_CONTAINERS = {"dict", "set", "OrderedDict", "defaultdict",
               "WeakValueDictionary", "WeakKeyDictionary"}
# the query registry: filled once at import by @register, never evicted —
# a catalogue, not a cache of derived state
_NOT_CACHES = {("plans/registry.py", "QUERIES")}


def _is_empty_container(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call) and not node.args:
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        return name in _CONTAINERS
    return False


def test_cache_py_is_the_only_process_global_cache():
    """Every process-global memo goes through tank_spark.cache: no other
    module may define a module-level empty dict/set (a hand-rolled
    cache), memoize with functools, or stat files for a fingerprint."""
    root = pathlib.Path(cache.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "cache.py":
            continue
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            if value is not None and _is_empty_container(value):
                for t in targets:
                    name = getattr(t, "id", ast.unparse(t))
                    if (rel, name) not in _NOT_CACHES:
                        found.append(f"{rel}:{node.lineno} {name}")
        for node in ast.walk(tree):
            name = (node.attr if isinstance(node, ast.Attribute) else
                    node.id if isinstance(node, ast.Name) else None)
            if name in ("lru_cache", "st_mtime_ns") or (
                    name == "cache" and isinstance(node, ast.Attribute)
                    and getattr(node.value, "id", "") == "functools"):
                found.append(f"{rel}:{node.lineno} {name}")
    assert not found, found
