"""Map-tile workloads through ``tank_spark.api.Tank``.

``tile_read`` serves reads only, with no tile cache: ``tile`` (with and
without the main-attr filter), ``heatmap``, ``lookup``, ``mvt`` (the
single-tile applyInPandas route) and ``mvt_batch`` (the two-stage route).

``tile_write_mix`` serves reads beside writes with the tile cache on:
``ingest`` appends and invalidates the cover of the tiles it writes,
``update`` / ``delete`` rewrite one bucket copy-on-write and invalidate
the feature's tile, then ``mvt`` renders the invalidated tile (cache miss,
put) and ``mvt_hit`` reads it back (cache hit).

Every output is checked against :class:`oracle.FeatureModel`, which
follows every write, so a stale cached blob is a failure.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import data
from perfbench.oracle import FeatureModel, load_expected, report_failed, stored_kind

# rendered once per run, before any write: through Tank.tile_mvt_batch by
# tile_read and the first one through Tank.tile_mvt by tile_write_mix;
# their md5s are committed in expected.json
AUDIT_TILES = ((13, 1281, 3137), (12, 641, 1569), (11, 321, 785), (9, 80, 196))

# ops whose DataFrame is split into build / plan / exec when traced
SPLIT_OPS = ("tile", "tile_filter", "heatmap", "mvt_batch", "lookup")


def _decoded_count(blob: bytes) -> int:
    from tank_spark.geom import mvt

    return sum(len(layer["features"]) for layer in mvt.decode(blob).values())


def _md5(blob: bytes) -> str:
    import hashlib

    return hashlib.md5(blob).hexdigest()


class _Tiles:
    cached = False
    min_cycles = 1

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tr = spark, work_dir, seed, tracer
        self.warm_s: dict[str, float] = {}
        self.mvt_stats = {"features": 0, "blob_bytes": 0, "n": 0}
        self.ingest_stats = {"rows": 0, "rejected": 0}
        self.cache_calls = {"hits": 0, "gets": 0, "keys_invalidated": 0}
        self.cache_dir = os.path.join(work_dir, "cache")

    def prepare(self, sf_dir: str) -> None:
        """Stored data and the count model over it (untimed)."""
        data.write_tables(sf_dir)
        self.sf_dir = sf_dir
        self.model = FeatureModel.from_duckdb(sf_dir)

    def setup_round(self, d: str) -> None:
        """A fresh copy of the stored data -> bucketed feature table."""
        from tank_spark.operators.table_ops import write_feature_table
        from tank_spark.sources.features import features_df

        shutil.copytree(self.sf_dir, f"{d}/sf")
        write_feature_table(features_df(self.spark, f"{d}/sf"), f"{d}/table")
        self.table = f"{d}/table"

    def start(self) -> None:
        from tank_spark.api import Tank

        shutil.rmtree(self.cache_dir, ignore_errors=True)
        cache = {"cache_dir": self.cache_dir} if self.cached else {}
        self.tank = Tank(self.spark, self.table, **cache)
        if self.cached:
            self._trace_cache()

    def _warm(self, reqs: list[dict]) -> tuple[int, list]:
        """Each request once, untimed and checked. Returns (failed, the
        last request's result)."""
        failed, out = 0, None
        for req in reqs:
            t = time.perf_counter()
            out, check = self.call(req)
            self.warm_s[req["op"]] = time.perf_counter() - t
            if not check():
                failed += 1
                report_failed(req)
        return failed, out

    def call(self, req: dict):
        """Run one request. Returns (result, check): ``check()`` is the
        untimed output check; for a write it also advances the model."""
        op = req["op"]
        traced = self.tr.enabled and op in SPLIT_OPS
        if op in ("tile", "tile_filter"):
            z, x, y = req["tile"]
            build = lambda: self.tank.tile(z, x, y, req.get("filter"))  # noqa: E731
            n = self._split(build, lambda df: df.count()) if traced else build().count()
            kind = json.loads(req["filter"])["kind"] if "filter" in req else None
            return n, lambda: n == self.model.count(z, x, y, kind)
        if op == "heatmap":
            build = lambda: self.tank.heatmap(*req["tile"])  # noqa: E731
            rows = self._split(build, lambda df: df.collect()) if traced else build().collect()
            return rows, lambda: (sorted((r.cell_i, r.cell_j, r.n_features) for r in rows)
                                  == self.model.heatmap(*req["tile"]))
        if op == "lookup":
            return self._lookup(req["uid"], traced)
        if op == "mvt_batch":
            build = lambda: self.tank.tile_mvt_batch(req["tiles"])  # noqa: E731
            rows = self._split(build, lambda df: df.collect()) if traced else build().collect()
            return rows, lambda: self._check_batch(req["tiles"], rows)
        if op in ("mvt", "mvt_hit"):
            blob = self.tank.tile_mvt(*req["tile"])
            # read-your-writes: a stale cached blob misses the model count
            return blob, lambda: self._check_blob(blob, self.model.count(*req["tile"]))
        if op == "ingest":
            res = self.tank.ingest_features(req["rows"])
            return res, lambda: self._apply_ingest(req, res)
        if op == "update":
            uid = self.model.pick(req["tile"][1:], req["pick"])
            n = self.tank.update_feature(uid, {"kind": req["kind"]})
            return n, lambda: self._apply(n, self.model.update, uid, req["kind"])
        if op == "delete":
            uid = self.model.pick(req["tile"][1:], req["pick"])
            n = self.tank.delete_feature(uid)
            return n, lambda: self._apply(n, self.model.delete, uid)
        raise ValueError(f"unknown op {op!r}")

    def _apply_ingest(self, req: dict, res: dict) -> bool:
        self.ingest_stats["rows"] += len(req["rows"])
        self.ingest_stats["rejected"] += req["rejected"]
        if res != {"accepted": len(req["rows"]) - req["rejected"],
                   "rejected": req["rejected"]}:
            return False
        for row in req["rows"]:
            r = json.loads(row)
            if r["score"] != "abc":
                self.model.add_point(req["tile"][1:], r["kind"])
        return True

    def _apply(self, n: int, change, *args) -> bool:
        """A uid write touches the feature's one row; the model follows."""
        change(*args)
        return n == 1

    def _lookup(self, uid: str, traced: bool):
        key = int(uid.split("-")[1])
        want = (stored_kind(key), key % 20)
        if traced:
            # the DataFrame half of get_feature_geojson: one row by uid
            rows = self._split(lambda: self.tank.get_feature(uid).limit(1),
                               lambda df: df.collect())
            return rows, lambda: bool(rows) and (rows[0]["kind"], rows[0]["cnt"]) == want
        feat = self.tank.get_feature_geojson(uid)
        return feat, lambda: (feat is not None and feat["id"] == uid and (
            feat["properties"]["kind"], feat["properties"]["cnt"]) == want)

    def _check_blob(self, blob: bytes, want: int) -> bool:
        n = _decoded_count(blob)
        self.mvt_stats["features"] += n
        self.mvt_stats["blob_bytes"] += len(blob)
        self.mvt_stats["n"] += 1
        return n == want

    def _check_batch(self, tiles: list, rows) -> bool:
        by_tile = {(r.z, r.x, r.y): r for r in rows}
        ok = len(by_tile) == len(rows)
        for t in tiles:
            want = self.model.count(*t)
            r = by_tile.get(tuple(t))
            if r is None:
                ok &= want == 0
                continue
            ok &= (self._check_blob(bytes(r.mvt), want)
                   and r.n_features == want and r.sample_mod == 1)
        return ok

    # ----------------------------------------------------------- tracing

    def _split(self, build, action):
        with self.tr.span("build"):
            df = build()
        with self.tr.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tr.span("exec"):
            return action(df)

    def _trace_cache(self) -> None:
        """Spans around the tile cache's public calls (recorded only while
        the tracer is on)."""
        cache, calls = self.tank._cache, self.cache_calls

        def on_get(rec, blob):
            calls["gets"] += 1
            calls["hits"] += blob is not None

        def on_invalidate(rec, n):
            calls["keys_invalidated"] += n

        cache.get = self.tr.wrap("tile_cache.get", cache.get, on_get)
        cache.put = self.tr.wrap("tile_cache.put", cache.put)
        cache.invalidate_bboxes = self.tr.wrap(
            "tile_cache.invalidate", cache.invalidate_bboxes, on_invalidate)

    def probe_source(self) -> None:
        """The source read every Tank call pays: list + footer schema."""
        from tank_spark.operators.table_ops import read_feature_table

        with self.tr.span("sources.read"):
            read_feature_table(self.spark, self.table).schema

    def layer_stats(self) -> dict[str, float]:
        """Per-layer counts measured outside the event log."""
        def parquet(d):
            return [os.path.join(r, n) for r, _d, ns in os.walk(d)
                    for n in ns if n.endswith(".parquet")]

        files = parquet(self.table)
        m, c, ing = self.mvt_stats, self.cache_calls, self.ingest_stats
        return {
            "table.files": len(files),
            "table.bytes_per_row": (sum(os.path.getsize(f) for f in files)
                                    / max(1, self.model.total())),
            "tile_cache.files": len(parquet(self.cache_dir)),
            "tile_cache.hit_ratio": c["hits"] / max(1, c["gets"]),
            "tile_cache.keys_invalidated": c["keys_invalidated"],
            "mvt.features": m["features"] / max(1, m["n"]),
            "mvt.blob_bytes": m["blob_bytes"] / max(1, m["n"]),
            "ingest.rows": ing["rows"],
            "ingest.rejected_ratio": ing["rejected"] / max(1, ing["rows"]),
        }


class TileRead(_Tiles):
    name = "tile_read"

    def cycles(self):
        return data.tile_read_cycles(self.seed)

    def warm_up(self, cycle: list[dict], traced: bool = False) -> tuple[int, int]:
        """One untimed, checked call of each op type; the ``mvt_batch``
        call renders the audit tiles. Returns (attempted, failed)."""
        reqs = [r for r in cycle if r["op"] != "mvt_batch"]
        reqs.append({"op": "mvt_batch", "tiles": list(AUDIT_TILES)})
        failed, rows = self._warm(reqs)
        md5 = {f"{r.z}/{r.x}/{r.y}": r.mvt_md5 for r in rows}
        if md5 != load_expected()["audit_tiles"]:
            failed += 1
            report_failed({"op": "audit", "md5": md5})
        return len(reqs), failed


class TileWriteMix(_Tiles):
    name = "tile_write_mix"
    cached = True
    # two samples of each op type: one cycle a run spread 0.27 between
    # runs on a shared 4-core host
    min_cycles = 2

    def cycles(self):
        return data.write_mix_cycles(self.seed)

    def warm_up(self, cycle: list[dict], traced: bool = False) -> tuple[int, int]:
        """The first audit tile through ``tile_mvt`` twice before any write
        (cache miss, then hit), untimed and checked. The writes and the
        heatmap are not warmed: their first call costs 0.5-2 s more than
        the next, while each warm-up call adds ~5 s to every run; every
        run measures the same first cycle, so the cost is the same in
        each. A ``traced`` run, which compares its untraced first cycle
        with its traced second one, also warms the first cycle's ingest.
        Returns (attempted, failed)."""
        audit = {"op": "mvt", "tile": AUDIT_TILES[0]}
        want = load_expected()["audit_tile_mvt"]["/".join(map(str, AUDIT_TILES[0]))]
        failed = 0
        for req in (audit, {**audit, "op": "mvt_hit"}):
            bad, blob = self._warm([req])
            failed += bad
            if _md5(blob) != want:
                failed += 1
                report_failed({**req, "op": "audit", "md5": _md5(blob)})
        if traced:
            failed += self._warm(cycle[:1])[0]
        return 2 + traced, failed
