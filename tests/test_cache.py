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
    """The directory version covers the directory and its ``key=value``
    partition directories: a file added in a partition moves it; other
    directories are not listed; a missing directory has the (0, 0)
    version."""
    part = tmp_path / "bucket=3"
    part.mkdir()
    (part / "a.parquet").write_bytes(b"a")
    (tmp_path / "_rejects").mkdir()   # not a partition directory
    d = str(tmp_path)
    os.utime(part, ns=(1, 1))   # so the write below surely moves it
    v = cache.dir_version(d)
    assert [rel for rel, *_ in v] == ["", "/bucket=3"]
    (tmp_path / "_rejects" / "r.parquet").write_bytes(b"r")
    assert cache.dir_version(d) == v
    (part / "b.parquet").write_bytes(b"b")
    assert cache.dir_version(d) != v
    assert cache.dir_version(str(tmp_path / "gone")) == (("", 0, 0),)


def test_dir_version_of_uris(tmp_path):
    """A 'file:' URI has its plain path's version; a remote path raises
    rather than passing for a missing directory whose version never
    moves."""
    (tmp_path / "bucket=1").mkdir()
    d = str(tmp_path)
    assert cache.dir_version("file://" + d) == cache.dir_version(d)
    assert cache.dir_version("file:" + d) == cache.dir_version(d)
    with pytest.raises(ValueError, match="local directory"):
        cache.dir_version("hdfs://nn/tables/features")


def test_tile_cache_rejects_a_remote_directory():
    from tank_spark.operators.tile_cache import TileCache

    with pytest.raises(ValueError, match="local directory"):
        TileCache("hdfs://nn/tiles/cache")


def test_tile_cache_put_then_get_in_one_session(tmp_path):
    """A put is served by the next get; a newer put replaces the key's file;
    zooms outside [2, 15] are never stored; a kind must be one path part."""
    from tank_spark.operators.tile_cache import TileCache

    tc = TileCache(str(tmp_path / "cache"))
    assert tc.get("tile", 9, 80, 196) is None
    tc.put("tile", 9, 80, 196, b"blob-1")
    assert tc.get("tile", 9, 80, 196) == b"blob-1"
    assert tc.get("heatmap", 9, 80, 196) is None
    tc.put("tile", 9, 80, 196, b"blob-2")
    assert tc.get("tile", 9, 80, 196) == b"blob-2"
    path = tmp_path / "cache" / "tile" / "9" / "80" / "196.parquet"
    assert os.listdir(path.parent) == ["196.parquet"]
    tc.put("tile", 1, 0, 0, b"low")
    tc.put("tile", 16, 0, 0, b"deep")
    assert tc.get("tile", 1, 0, 0) is None and tc.get("tile", 16, 0, 0) is None
    assert os.listdir(tmp_path / "cache" / "tile") == ["9"]
    with pytest.raises(ValueError, match="cache kind"):
        tc.put("tile/../x", 9, 80, 196, b"blob")


def test_tile_cache_front_checks_ttl_on_every_serve(tmp_path, monkeypatch):
    """Every get checks the TTL, counted from the stored ``created_at``
    (not the file's mtime): a blob older than the TTL is not served."""
    import time

    from tank_spark.operators.tile_cache import TileCache

    tc = TileCache(str(tmp_path / "cache"), ttl_seconds=60)
    tc.put("tile", 9, 80, 196, b"blob-2")
    path = tmp_path / "cache" / "tile" / "9" / "80" / "196.parquet"
    os.utime(path, (0, 0))
    assert tc.get("tile", 9, 80, 196) == b"blob-2"
    later = time.time() + 61
    monkeypatch.setattr(time, "time", lambda: later)
    assert tc.get("tile", 9, 80, 196) is None
    assert tc.get("tile", 9, 80, 196) is None
    monkeypatch.undo()
    assert tc.get("tile", 9, 80, 196) == b"blob-2"


def test_tile_cache_reads_back_byte_identical(tmp_path):
    """A blob reads back as the same bytes it was put with, an empty blob
    included (a hit, not a miss)."""
    from tank_spark.operators.tile_cache import TileCache

    tc = TileCache(str(tmp_path / "cache"))
    blob = bytes(range(256)) * 3
    tc.put("tile", 9, 80, 196, bytearray(blob))
    tc.put("heatmap", 10, 160, 392, b"")
    got = tc.get("tile", 9, 80, 196)
    assert type(got) is bytes and got == blob
    assert tc.get("heatmap", 10, 160, 392) == b""


def test_tile_cache_second_instance_sees_puts_and_invalidations(tmp_path):
    """A second ``TileCache`` over the same directory, as another process
    would hold, sees the first one's put and invalidation on its next
    get, and the other way round (one names it by a 'file:' URI)."""
    from tank_spark.operators.tile_cache import TileCache

    d = str(tmp_path / "cache")
    a, b = TileCache(d), TileCache("file://" + d)
    assert b.get("tile", 9, 80, 196) is None
    a.put("tile", 9, 80, 196, b"blob-1")
    assert b.get("tile", 9, 80, 196) == b"blob-1"
    b.put("tile", 9, 80, 196, b"blob-2")
    assert a.get("tile", 9, 80, 196) == b"blob-2"
    assert a.invalidate_cover([(9, 80, 196)], []) == 1
    assert b.get("tile", 9, 80, 196) is None
    assert b.invalidate_cover([(9, 80, 196)], []) == 0


def test_tile_cache_concurrent_puts_gets_and_invalidations(tmp_path):
    """Threads putting, reading and invalidating one key (directly and
    through a root) see a whole blob that was put, or a miss; no call
    raises and no temp file is left behind."""
    import sys
    import threading
    import time

    from tank_spark.operators.tile_cache import TileCache

    tc = TileCache(str(tmp_path / "cache"))
    seen, errors = set(), []
    stop = time.monotonic() + 1.0

    def work(i):
        try:
            while time.monotonic() < stop:
                tc.put("tile", 9, 80, 196, bytes([i]) * 5000)
                seen.add(tc.get("tile", 9, 80, 196))
                if i % 3 == 0:
                    tc.invalidate_cover([(9, 80, 196)], [(8, 40, 98)])
        except Exception as e:   # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen and seen <= {bytes([i]) * 5000 for i in range(8)} | {None}
    assert set(os.listdir(tmp_path / "cache" / "tile" / "9" / "80")) <= {
        "196.parquet"}


def test_tile_cache_invalidation_is_bounded_by_its_cover(tmp_path):
    """An invalidation deletes the cover's keys and touches no other
    file: every cached file outside the cover keeps its path, inode and
    mtime, at other zooms, tiles and kinds alike."""
    from tank_spark.operators.tile_cache import TileCache

    d = tmp_path / "cache"
    tc = TileCache(str(d))
    keys = [(k, z, x, y) for k in ("tile", "heatmap", "other")
            for z, x, y in [(2, 0, 1), (9, 80, 196), (13, 1281, 3137),
                            (13, 1281, 3136), (14, 2562, 6274),
                            (15, 5124, 12548), (15, 5126, 12548),
                            (15, 5125, 12551)]]
    for key in keys:
        tc.put(*key, "/".join(map(str, key)).encode())

    def stats():
        return {p: (st.st_ino, st.st_mtime_ns)
                for p in map(str, d.rglob("*.parquet"))
                for st in [os.stat(p)]}

    def path(k, z, x, y):
        return str(d / k / str(z) / str(x) / f"{y}.parquet")

    before = stats()
    assert tc.invalidate_cover([(13, 1281, 3137)], []) == 3
    gone = {path(k, 13, 1281, 3137) for k in ("tile", "heatmap", "other")}
    assert stats() == {p: v for p, v in before.items() if p not in gone}
    # a root at z14: its z15 descendants (x 5124-5125, y 12548-12549) go
    before = stats()
    assert tc.invalidate_cover([], [(14, 2562, 6274)]) == 6
    gone = {path(k, z, x, y) for k in ("tile", "heatmap", "other")
            for z, x, y in [(14, 2562, 6274), (15, 5124, 12548)]}
    assert stats() == {p: v for p, v in before.items() if p not in gone}


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
