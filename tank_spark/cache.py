"""The session cache: derived state built once per data version, then served.

Tank's physical design derives expensive state once and serves every
request from it (a stored table clustered by ``hash``,
application.kt:677-681). Every process-global memo in tank_spark — the
persisted source tables, signature and shingle relations, centroid
literals, MVT sampling moduli and dictionaries, skipping layouts, the
memoized unresolved Columns — is an entry here, with one rule:

* an entry is ``(fingerprint, value, release)`` under a key inside a
  named namespace;
* a lookup whose current fingerprint differs from the stored one
  ``release``-s the stale value, rebuilds, and stores the new entry
  (a fingerprint of ``()`` never goes stale);
* each namespace is an LRU bounded at ``MEMO_CAP`` entries, so a burst
  of tile batches cannot evict the session's table loads; eviction
  ``release``-s too;
* hits, misses and evictions are counted per namespace (``stats``).

What differs between callers — a lazy or eager persist, a
localCheckpoint, unpersist, removing a layout directory — lives in the
caller's ``build``/``release`` callables. Keys carry everything the value
depends on besides the data version (session applicationId, sf_dir,
dials); the fingerprint carries the data version — ``fingerprint`` for
files, ``dir_version`` for the feature table's directory (its session
handle).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

# entries per namespace; values are persisted relations or small driver
# lists/Columns, so the bound is about unbounded growth in a long-lived
# server, not per-entry size
MEMO_CAP = 128

_STORE: dict[str, OrderedDict] = {}
_STATS: dict[str, dict[str, int]] = {}
_LOCK = threading.Lock()


def fingerprint(*paths: str) -> tuple:
    """``(mtime_ns, size)`` per path, ``(0, 0)`` for a missing file.
    Metadata only: no read, no Spark job."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
            out.append((st.st_mtime_ns, st.st_size))
        except OSError:
            out.append((0, 0))
    return tuple(out)


def local_fs_path(path: str) -> str:
    """Normalize a 'file:' URI to a plain filesystem path so driver-side
    readers (os.stat, glob, pyarrow) see the real directory — without
    this, 'file:///tmp/t' passed the driver-side routing guard but the
    raw-string glob found nothing and raised manifest-missing even when
    the manifest existed (ADVICE r11)."""
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path or path
    return path


def local_dir(path: str) -> str:
    """The local path of a directory given as a path or a 'file:' URI.
    A remote path (hdfs://, s3a://, ...) raises ValueError: a driver-side
    reader would take it for a missing directory."""
    if "://" in path and not path.startswith("file:"):
        raise ValueError(f"needs a local directory: {path!r}")
    return local_fs_path(path)


def dir_version(path: str) -> tuple:
    """The data version of a partitioned parquet directory: ``(relative
    path, mtime_ns, size)`` of ``path`` and of each ``key=value``
    partition directory in it (the feature table's ``bucket=*``), in
    name order; ``(("", 0, 0),)`` for a missing directory.

    Writers never rewrite a data file in place, so a change shows in a
    directory's mtime: an append adds a file to a partition directory,
    and an overwrite removes and recreates it (its parent's entries
    change). Metadata only: one listing, no Spark job. Local paths and
    'file:' URIs only (``local_dir``)."""
    d = local_dir(path)
    try:
        with os.scandir(d) as it:
            subs = sorted(e.name for e in it if "=" in e.name and e.is_dir())
    except OSError:
        return (("", 0, 0),)
    out = []
    for rel in ["", *(f"/{name}" for name in subs)]:
        try:
            st = os.stat(d + rel)
            out.append((rel, st.st_mtime_ns, st.st_size))
        except OSError:   # removed while listed
            out.append((rel, 0, 0))
    return tuple(out)


def _counts(namespace: str) -> dict[str, int]:
    return _STATS.setdefault(namespace,
                             {"hits": 0, "misses": 0, "evictions": 0})


def _release(entry: tuple) -> None:
    # best effort: the value's owner may already be gone (a persisted
    # relation of a stopped session cannot unpersist), and that must not
    # fail the unrelated lookup whose insert evicted it
    if entry[2] is not None:
        try:
            entry[2](entry[1])
        except Exception:
            pass


def cached(namespace: str, key, build, fp: tuple = (), release=None):
    """The value under ``(namespace, key)`` for data version ``fp``:
    served when stored with the same fingerprint, otherwise the stale
    entry (if any) is dropped and released, ``build()`` runs, and its
    result is stored with ``release`` (called with the value when the
    entry is later evicted, replaced or cleared).

    Bookkeeping is locked (streaming foreachBatch callbacks serve from
    other threads); ``build`` and ``release`` run unlocked, because a
    build may itself look up other entries."""
    with _LOCK:
        store = _STORE.setdefault(namespace, OrderedDict())
        counts = _counts(namespace)
        entry = store.get(key)
        if entry is not None and entry[0] == fp:
            store.move_to_end(key)
            counts["hits"] += 1
            return entry[1]
        if entry is not None:
            # drop before releasing or rebuilding: a failed rebuild must
            # leave a miss behind, never a pointer at released state
            del store[key]
            counts["evictions"] += 1
        counts["misses"] += 1
    if entry is not None:
        _release(entry)
    value = build()
    evicted = []
    with _LOCK:
        store[key] = (fp, value, release)
        while len(store) > MEMO_CAP:
            evicted.append(store.popitem(last=False)[1])
            counts["evictions"] += 1
    for old in evicted:
        _release(old)
    return value


def lookup(namespace: str, key, default=None):
    """The stored value, or ``default`` — without counting, checking the
    fingerprint, or refreshing recency."""
    with _LOCK:
        entry = _STORE.get(namespace, {}).get(key)
    return default if entry is None else entry[1]


def clear(namespace: str | None = None, where=None) -> int:
    """Drop and release every entry of ``namespace`` (all namespaces when
    None) whose key satisfies ``where`` (every key when None). Returns the
    number dropped; counters are kept."""
    with _LOCK:
        dropped = [
            _STORE[ns].pop(key)
            for ns in ([namespace] if namespace is not None else list(_STORE))
            if ns in _STORE
            for key in [k for k in _STORE[ns] if where is None or where(k)]
        ]
    for entry in dropped:
        _release(entry)
    return len(dropped)


def stats(namespace: str) -> dict[str, int]:
    """``{"hits", "misses", "evictions", "size"}`` for one namespace.
    Evictions count LRU drops and stale-fingerprint replacements."""
    with _LOCK:
        return {**_counts(namespace), "size": len(_STORE.get(namespace, {}))}
