"""The full tile pipeline: project -> clip -> transform -> MVT encode, as
a distributed Arrow-vectorized pipeline (reference application.kt:420-467,
SURVEY.md §2.3 T1e-T1j).

One geometry encoder, :func:`_encode_rows`, parses, projects, clips,
transforms and command-encodes feature rows against their request tile.
Both tile paths call it:

* the batch path (:func:`mvt_tiles_for`): tile requests equi-join the
  feature table on the Morton-prefix block id (one BroadcastHashJoin per
  zoom band — never a nested-loop range join); a map-only
  ``mapInPandas`` geometry stage encodes every input partition and packs
  one columnar chunk per (tile, Arrow batch); a per-tile
  ``applyInPandas`` assembly merges the chunks and frames the protobuf
  layer with the vectorized assembler (geom/mvt_np.py);
* the single-tile kernel (``make_tile_kernel``, api.Tank.tile_mvt and
  the decode-parity reference for the batch path), which feeds the
  encoded rows to ``mvt.encode``.

This is the one place SQL genuinely can't express the semantics
(stateful polygon clipping + protobuf encoding), so it's isolated here
per SURVEY.md §7.3. Geometry work scales with input partitions; the
per-tile shuffle moves #arrow-batches compact binary chunks, not
per-feature rows; assembly parallelism = #tiles, and the serving policy
bounds every over-budget tile by a per-tile sample.

Reference constants: extent 4096, buffer 64 (application.conf:33-36);
layer name io.marauder.tank (application.conf:31); heatmap cells carry a
``count`` property (application.kt:601).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tank_spark import cache
from tank_spark.geom import clip as clipmod
from tank_spark.geom import mvt as mvtmod
from tank_spark.geom import mvt_np
from tank_spark.geom import tilemath, wkt
from tank_spark.operators.heatmap import grid_n, heatmap_oracle
from tank_spark.operators.tiles import OVERVIEW_FEATURE_BUDGET, tile_hash_range
from tank_spark.plans.registry import register
from tank_spark.sources.features import HASH_LEVEL, features_df
from tank_spark.util import ensure_workers_have_package, local_values_df

EXTEND = 4096
BUFFER = 64
LAYER = "io.marauder.tank"

TILE_OUT_SCHEMA = (
    "z int, x int, y int, n_features long, mvt_size long, mvt_md5 string, mvt binary"
)

# the three planner regimes over the derived feature block (SURVEY §2.3)
DEFAULT_REQUESTS = [
    (9, 80, 196), (11, 320, 784), (13, 1281, 3137), (13, 1300, 3160),
    (15, 5126, 12550), (7, 20, 49),
]


_POINT_RE = r"^POINT \((?P<lon>[-+0-9.eE]+) (?P<lat>[-+0-9.eE]+)\)$"

# vectorized-fast-path classifiers for the two simple non-point WKT shapes
# (conservative full-match patterns; anything else takes the per-row path).
# Named groups: RE2 (pyarrow extract_regex) only captures named groups,
# and Python re accepts the same syntax.
_WKT_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
_L2_RE = (rf"^LINESTRING \((?P<x0>{_WKT_NUM}) (?P<y0>{_WKT_NUM}), "
          rf"(?P<x1>{_WKT_NUM}) (?P<y1>{_WKT_NUM})\)$")
_POLY1_RE = (rf"^POLYGON \(\((?P<body>{_WKT_NUM} {_WKT_NUM}"
             rf"(?:, {_WKT_NUM} {_WKT_NUM}){{3,}})\)\)$")


def _extract_re_np(values, pattern: str):
    """RE2-vectorized full-string group extraction via pyarrow:
    (bool match mask, one object ndarray per named group, '' where
    unmatched). ~10x pandas ``.str.extract`` on 600k-row WKT columns
    (measured 1.35 s -> 0.12 s); the match/value semantics are
    identical for these backreference-free patterns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(values, type=pa.string())
    st = pc.extract_regex(arr, pattern)
    mask = pc.is_valid(st).to_numpy(zero_copy_only=False)
    return mask, [st.field(i).to_numpy(zero_copy_only=False)
                  for i in range(st.type.num_fields)]


def _fast_nonpoint(gen: pd.DataFrame, k1: float):
    """Vectorized parse/project/transform/encode for the two simple WKT
    shapes that dominate tile layers — 2-point LINESTRINGs and
    single-ring closed POLYGONs — when every vertex lies inside the
    buffered tile (the overwhelming case: only border-straddlers need
    real clipping; a whole-block overview tile has none at all).

    BIT-IDENTICAL to the per-row wkt.loads -> clip -> tx ->
    _encode_geometry path on the rows it handles:

    * parse: C strtod both ways (np.fromstring / float()),
    * projection: project_np_exact (libm log — np.log's SIMD kernel is
      one ulp off on ~6% of inputs, enough to flip a rounded coord),
    * the fully-inside clip is reproduced, not skipped — Liang-Barsky
      at t0=0/t1=1 RECOMPUTES a segment's exit vertex as p0 + (p1-p0),
      and Sutherland-Hodgman re-closes the ring with its first vertex,
    * transform: same round-half-even (np.rint == Python round),
    * encode: same command-stream layout and winding normalization
      (mvt_np.encode_line2_geoms / encode_ring_geoms).

    ``gen`` must be positionally indexed (0..len-1). Returns
    (handled, gtypes, geoms): rows NOT handled (other shapes, straddlers,
    unclosed rings, unparseable text) fall through to the per-row loop."""
    import numpy as np

    from tank_spark.geom.tilemath import project_np_exact

    n_rows = len(gen)
    handled = np.zeros(n_rows, dtype=bool)
    gtypes = np.zeros(n_rows, dtype=np.int32)
    geoms = np.empty(n_rows, dtype=object)

    geo = gen["geometry"]
    zs = gen["z"].to_numpy()
    xs = gen["x"].to_numpy().astype(np.int64)
    ys = gen["y"].to_numpy().astype(np.int64)
    z2 = (1 << zs.astype(np.int64)).astype(np.float64)
    bxmin, bymin = (xs - k1) / z2, (ys - k1) / z2
    bxmax, bymax = (xs + 1 + k1) / z2, (ys + 1 + k1) / z2

    gvals = geo.to_numpy()

    # ---- 2-point LineStrings -------------------------------------------
    lmask, lgroups = _extract_re_np(gvals, _L2_RE)
    if lmask.any():
        li = np.where(lmask)[0]
        x0s, y0s, x1s, y1s = (g[lmask].astype(np.float64) for g in lgroups)
        wx0, wy0 = project_np_exact(x0s, y0s)
        wx1, wy1 = project_np_exact(x1s, y1s)
        inside = (
            (wx0 >= bxmin[li]) & (wx0 <= bxmax[li])
            & (wy0 >= bymin[li]) & (wy0 <= bymax[li])
            & (wx1 >= bxmin[li]) & (wx1 <= bxmax[li])
            & (wy1 >= bymin[li]) & (wy1 <= bymax[li])
        )
        if inside.any():
            sel = li[inside]
            # Liang-Barsky's t1=1 exit vertex is p0 + (p1 - p0)
            ex = wx0[inside] + (wx1[inside] - wx0[inside])
            ey = wy0[inside] + (wy1[inside] - wy0[inside])
            zz, tx_, ty_ = z2[sel], xs[sel], ys[sel]
            ix0 = np.rint((wx0[inside] * zz - tx_) * EXTEND).astype(np.int64)
            iy0 = np.rint((wy0[inside] * zz - ty_) * EXTEND).astype(np.int64)
            ix1 = np.rint((ex * zz - tx_) * EXTEND).astype(np.int64)
            iy1 = np.rint((ey * zz - ty_) * EXTEND).astype(np.int64)
            buf, lens = mvt_np.encode_line2_geoms(ix0, iy0, ix1, iy1)
            out = np.empty(len(sel), dtype=object)
            out[:] = mvt_np.split_bytes(buf, lens)
            geoms[sel] = out
            gtypes[sel] = 2
            handled[sel] = True

    # ---- single-ring closed Polygons -----------------------------------
    pmask, pgroups = _extract_re_np(gvals, _POLY1_RE)
    if pmask.any():
        pi = np.where(pmask)[0]
        bodies = pgroups[0][pmask]
        cnts = np.fromiter((b.count(",") + 1 for b in bodies),
                           dtype=np.int64, count=len(bodies))
        big = ", ".join(bodies.tolist()).replace(",", " ")
        flat = np.fromstring(big, dtype=np.float64, sep=" ")
        if len(flat) == 2 * int(cnts.sum()):
            lons, lats = flat[0::2], flat[1::2]
            pofs = np.cumsum(cnts) - cnts
            lastv = pofs + cnts - 1
            closed = ((lons[pofs] == lons[lastv])
                      & (lats[pofs] == lats[lastv]))
            wx, wy = project_np_exact(lons, lats)
            rxmin = np.minimum.reduceat(wx, pofs)
            rxmax = np.maximum.reduceat(wx, pofs)
            rymin = np.minimum.reduceat(wy, pofs)
            rymax = np.maximum.reduceat(wy, pofs)
            ok = (closed
                  & (rxmin >= bxmin[pi]) & (rxmax <= bxmax[pi])
                  & (rymin >= bymin[pi]) & (rymax <= bymax[pi]))
            if ok.any():
                z2r = np.repeat(z2[pi], cnts)
                txr = np.repeat(xs[pi], cnts)
                tyr = np.repeat(ys[pi], cnts)
                ix = np.rint((wx * z2r - txr) * EXTEND).astype(np.int64)
                iy = np.rint((wy * z2r - tyr) * EXTEND).astype(np.int64)
                for c_pts in np.unique(cnts[ok]):
                    rsel = np.where(ok & (cnts == c_pts))[0]
                    gidx = pofs[rsel][:, None] + np.arange(c_pts)[None, :]
                    rings = np.stack([ix[gidx], iy[gidx]], axis=2)
                    rings[:, -1, :] = rings[:, 0, :]  # clip re-closes w/ p0
                    buf, lens = mvt_np.encode_ring_geoms(rings)
                    sel = pi[rsel]
                    out = np.empty(len(sel), dtype=object)
                    out[:] = mvt_np.split_bytes(buf, lens)
                    geoms[sel] = out
                    gtypes[sel] = 3
                    handled[sel] = True

    return handled, gtypes, geoms


def make_tile_kernel(layer: str = LAYER):
    """Single-arg applyInPandas kernel bound to a layer name (applyInPandas
    interprets a TWO-parameter function as ``fn(key, pdf)``, so the layer
    must be closed over, not defaulted)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _tile_kernel_impl(pdf, layer)

    return kernel


_CORE_COLUMNS = ("z", "x", "y", "key", "geometry")


def _pyprop(v):
    """numpy/pandas scalar -> plain python for MVT value encoding."""
    return v.item() if hasattr(v, "item") else v


def _tile_kernel_impl(pdf: pd.DataFrame, layer: str) -> pd.DataFrame:
    """Kernel for one (z, x, y) group: rows with WKT + props -> one MVT.

    The rows go through the shared geometry encoder and the pre-encoded
    features through ``mvt.encode``, in key order (ties: points first,
    then the other geometries, each in input order). A null property
    (None, or the NaN pandas makes of a null number) gets no tag, as on
    the batch path.

    Property columns are whatever non-core columns arrive — the caller
    (api.Tank.tile_mvt) selects the layer's DECLARED attributes, so a
    custom attr_fields schema serves through the same kernel.
    """
    import hashlib

    import numpy as np

    z = int(pdf["z"].iloc[0])
    x = int(pdf["x"].iloc[0])
    y = int(pdf["y"].iloc[0])
    prop_cols = [c for c in pdf.columns if c not in _CORE_COLUMNS]
    # deterministic encode order (pandas group order is partition-dependent)
    enc = _encode_rows(pdf.sort_values("key"), prop_cols)
    order = np.argsort(enc["key"].to_numpy(), kind="stable")
    enc = enc.iloc[order]
    props = [(c, enc[c].to_numpy(), enc[c].notna().to_numpy())
             for c in prop_cols]
    feats = [
        {"id": int(key), "gtype": int(gtype), "geom": geom,
         "props": {c: _pyprop(vals[i]) for c, vals, ok in props if ok[i]}}
        for i, (key, gtype, geom) in enumerate(zip(
            enc["key"].to_numpy(), enc["gtype"].to_numpy(),
            enc["geom"].to_numpy()))
    ]
    blob = mvtmod.encode(feats, layer_name=layer, extent=EXTEND)
    return pd.DataFrame([{
        "z": z, "x": x, "y": y, "n_features": len(feats),
        "mvt_size": len(blob), "mvt_md5": hashlib.md5(blob).hexdigest(),
        "mvt": blob,
    }])


# default-layer kernel (the registered batch query and tests use this)
_tile_kernel = make_tile_kernel()


def _project_geom(gtype: str, coords):
    """WGS84 -> unit-mercator for any geometry nesting (T1f)."""
    pj = tilemath.project
    if gtype == "Point":
        px, py = pj(coords[0], coords[1])
        return gtype, [px, py]
    if gtype in ("LineString", "MultiPoint"):
        return gtype, [list(pj(p[0], p[1])) for p in coords]
    if gtype in ("Polygon", "MultiLineString"):
        return gtype, [[list(pj(p[0], p[1])) for p in part] for part in coords]
    return gtype, [
        [[list(pj(p[0], p[1])) for p in ring] for ring in poly] for poly in coords
    ]


def _sample_mods_list(spark: SparkSession, feats: DataFrame,
                      ov_reqs: list[tuple[int, int, int]]
                      ) -> list[tuple[int, int, int, int]]:
    """One bounded count job (<= #requests result rows, hash-range-pruned
    scan, memoized per data version) -> per-tile deterministic sampling
    modulus ceil(n / budget) as a DRIVER-SIDE list. Only over-budget
    tiles get a row (mod > 1); tiles under budget and tiles matching zero
    features are absent and serve unsampled. The budget applies at EVERY
    zoom: a fixed zoom boundary cannot bound the blob as the table grows
    (at 100x the z9 tile is 3.7M features / 115 MB full-fidelity —
    measured; OOMs a 32-worker local run), while per-tile counts make
    every served tile O(budget) by construction. Returning the list
    (instead of a DataFrame) lets callers test emptiness without a Spark
    job — the old ``mods.head(1)`` probe cost a 3-stage job per serve.

    Memoized per (data version, request batch) — a tile server derives
    its sampling cube once per data version, not per request; keyed on
    the plan's semanticHash + input-file fingerprint so in-session data
    regeneration can't serve stale moduli."""
    def build():
        counts = (
            _request_join(spark, feats, ov_reqs)
            .groupBy("z", "x", "y").agg(F.count("*").alias("n")).collect()
        )
        return [
            (int(r["z"]), int(r["x"]), int(r["y"]),
             (int(r["n"]) + OVERVIEW_FEATURE_BUDGET - 1)
             // OVERVIEW_FEATURE_BUDGET)
            for r in counts
            if int(r["n"]) > OVERVIEW_FEATURE_BUDGET
        ]

    key = (feats._jdf.queryExecution().analyzed().semanticHash(),
           _input_fingerprint(feats), tuple(sorted(ov_reqs)),
           OVERVIEW_FEATURE_BUDGET)
    return cache.cached("mvt.mods", key, build)


# stage-1 output: one packed columnar chunk per (tile, arrow batch) — the
# per-tile assembly group receives #batches compact rows, not #features
# (the per-row shuffle + Arrow serialization dominated at overview sizes)
GEOM_STAGE_SCHEMA = "z int, x int, y int, chunk binary"


def _request_join(spark: SparkSession, feats: DataFrame,
                  requests: list[tuple[int, int, int]]) -> DataFrame:
    """Join the feature table to a tile-request batch as Morton-prefix
    EQUI-joins (one BroadcastHashJoin per zoom band), not a BETWEEN-range
    BroadcastNestedLoopJoin: a z-level's tile covers an aligned Morton
    block, so ``hash >> 2*(13-z)`` equals the request's block id exactly.
    O(1) hash probe per feature instead of O(#requests) range checks —
    the difference between 6 requests and a 10k-tile render batch.

    Each band also keeps a redundant hash BETWEEN min/max predicate so
    the parquet/cached scan still prunes on the hash range.
    """
    from tank_spark.geom import morton

    if not requests:
        # empty batch -> empty result with the joined schema, not IndexError
        req_df = local_values_df(spark, [], "z int, x int, y int, blk long")
        return (
            feats.filter(F.lit(False))
            .withColumn("blk", F.col("hash"))
            .join(F.broadcast(req_df), "blk")
        )

    bands: dict[int, list[tuple[int, int, int, int]]] = {}
    for z, x, y in requests:
        if z >= HASH_LEVEL:
            shift = z - HASH_LEVEL
            blk = morton.interleave(x >> shift, y >> shift)
            bands.setdefault(0, []).append((z, x, y, blk))
        else:
            d = HASH_LEVEL - z
            bands.setdefault(d, []).append((z, x, y, morton.interleave(x, y)))

    parts = []
    for d, reqs in bands.items():
        req_df = local_values_df(spark, reqs, "z int, x int, y int, blk long")
        lo = min(b << (2 * d) for *_, b in reqs)
        hi = max(((b + 1) << (2 * d)) - 1 for *_, b in reqs)
        part = (
            feats.filter(F.col("hash").between(lo, hi))
            .withColumn("blk", F.shiftright(F.col("hash"), 2 * d))
            .join(F.broadcast(req_df), "blk")
        )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# the derived benchmark table's property columns; a Tank layer passes its
# DECLARED attr_fields instead (make_geom_stage closes over the list)
DEFAULT_PROPS = ("kind", "score", "cnt", "tag")


def _encode_rows(pdf: pd.DataFrame, prop_cols) -> pd.DataFrame:
    """The one geometry encoder: feature rows (z, x, y, key, geometry WKT,
    props) -> parse -> project -> clip to the row's buffered request tile
    -> transform -> command-encode. Returns the columns z, x, y, key,
    gtype, geom (command-stream bytes), *prop_cols: points first, then
    the other geometries, each in input order. Rows lacking geometry or
    key, unparseable WKT and geometries clipped away are dropped.

    Points take a fully-vectorized numpy path (regex coordinate
    extraction, batch mercator projection, mask clip, integer transform —
    ~20x per-row WKT parsing on a 600k-point overview tile); simple
    fully-inside lines and rings take ``_fast_nonpoint``; everything
    else runs the general per-row clip."""
    import numpy as np

    cols = ["z", "x", "y", "key", "gtype", "geom", *prop_cols]
    # rows lacking geometry or key can't be rendered/keyed — skip them
    # instead of crashing the tile (legacy/partial appends)
    pdf = pdf[pdf["geometry"].notna() & pdf["key"].notna()]
    if not len(pdf):
        return pd.DataFrame(columns=cols)
    z = pdf["z"].to_numpy()
    x = pdf["x"].to_numpy()
    y = pdf["y"].to_numpy()
    z2 = (1 << z.astype(np.int64)).astype(np.float64)
    k1 = 0.5 * BUFFER / EXTEND
    xmin, ymin = (x - k1) / z2, (y - k1) / z2
    xmax, ymax = (x + 1 + k1) / z2, (y + 1 + k1) / z2

    is_point, coords_pt = _extract_re_np(pdf["geometry"].to_numpy(), _POINT_RE)

    out_parts = []

    if is_point.any():
        lon = coords_pt[0][is_point].astype(np.float64)
        lat = coords_pt[1][is_point].astype(np.float64)
        wx, wy = tilemath.project_np(lon, lat)
        m = is_point.copy()
        keep = (
            (wx >= xmin[is_point]) & (wx <= xmax[is_point])
            & (wy >= ymin[is_point]) & (wy <= ymax[is_point])
        )
        m[is_point] = keep
        ix = np.rint((wx[keep] * z2[m] - x[m]) * EXTEND).astype(np.int64)
        iy = np.rint((wy[keep] * z2[m] - y[m]) * EXTEND).astype(np.int64)
        gbuf, glens = mvt_np.encode_point_geoms(ix, iy)
        kept = pdf.loc[m]
        out_parts.append(pd.DataFrame({
            "z": kept["z"].to_numpy(), "x": kept["x"].to_numpy(),
            "y": kept["y"].to_numpy(), "key": kept["key"].to_numpy(),
            "gtype": np.full(int(m.sum()), 1, dtype=np.int32),
            "geom": mvt_np.split_bytes(gbuf, glens),
            **{c: kept[c].to_numpy() for c in prop_cols},
        }))

    gen = pdf.loc[~is_point]
    if len(gen):
        gen = gen.reset_index(drop=True)
        # vectorized fast path: simple fully-inside lines/rings
        # (bit-identical to the loop below); leftovers per-row
        handled, fgt, fgm = _fast_nonpoint(gen, k1)
        slow = gen if not handled.any() else gen.loc[~handled]
        rows = []
        for pos, row in zip(slow.index.to_numpy(),
                            slow.itertuples(index=False)):
            try:
                gtype, coords = wkt.loads(row.geometry)
            except ValueError:
                continue  # unparseable geometry (dead-letter at ingest)
            rz2 = 1 << int(row.z)
            bxmin, bymin = (row.x - k1) / rz2, (row.y - k1) / rz2
            bxmax, bymax = (row.x + 1 + k1) / rz2, (row.y + 1 + k1) / rz2
            proj = _project_geom(gtype, coords)
            clipped = clipmod.clip(proj[0], proj[1], bxmin, bymin, bxmax, bymax)
            if clipped is None:
                continue
            t, c = clipped

            def tx(p, _z2=rz2, _x=row.x, _y=row.y):
                return [round((p[0] * _z2 - _x) * EXTEND),
                        round((p[1] * _z2 - _y) * EXTEND)]

            if t == "Point":
                c2 = tx(c)
            elif t in ("LineString", "MultiPoint"):
                c2 = [tx(p) for p in c]
            elif t in ("Polygon", "MultiLineString"):
                c2 = [[tx(p) for p in part] for part in c]
            else:
                c2 = [[[tx(p) for p in ring] for ring in poly] for poly in c]
            rows.append((pos, row.z, row.x, row.y, row.key,
                         mvtmod.GEOM_TYPES[t], mvtmod.geometry_bytes(t, c2),
                         *[getattr(row, col) for col in prop_cols]))
        parts_g = []
        if handled.any():
            fdf = gen.loc[handled, ["z", "x", "y", "key", *prop_cols]].copy()
            fdf["gtype"] = fgt[handled]
            fdf["geom"] = fgm[handled]
            fdf["_pos"] = np.where(handled)[0]
            parts_g.append(fdf[["_pos", *cols]])
        if rows:
            parts_g.append(pd.DataFrame(rows, columns=["_pos", *cols]))
        if parts_g:
            merged = pd.concat(parts_g, ignore_index=True)
            # restore the input row order the per-row path produced
            merged = merged.sort_values("_pos", kind="stable")
            out_parts.append(merged[cols])

    if not out_parts:
        return pd.DataFrame(columns=cols)
    return pd.concat(out_parts, ignore_index=True)


def make_geom_stage(prop_cols: tuple[str, ...] = DEFAULT_PROPS):
    """Build the mapInPandas stage-1 function bound to a property-column
    list: :func:`_encode_rows` on every Arrow batch, then one packed
    columnar chunk per tile. Map-only (no shuffle), runs on every input
    partition in parallel — the per-tile funnel only sees pre-encoded
    compact bytes. ``prop_cols`` is whatever attribute schema the layer
    declares, so custom ``attr_fields`` layers serve through the same
    code as the default benchmark table."""
    prop_cols = tuple(prop_cols)

    def geom_stage(iterator):
        import numpy as np

        for pdf in iterator:
            batch = _encode_rows(pdf, prop_cols)
            if not len(batch):
                continue
            packed = [
                (int(bz), int(bx), int(by), mvt_np.pack_chunk(
                    grp["key"].to_numpy().astype(np.int64),
                    grp["gtype"].to_numpy(), grp["geom"].to_numpy(),
                    {c: grp[c] for c in prop_cols}))
                for (bz, bx, by), grp in batch.groupby(
                    ["z", "x", "y"], sort=False)
            ]
            yield pd.DataFrame(packed, columns=["z", "x", "y", "chunk"])

    return geom_stage


def make_assemble_kernel(layer: str = LAYER):
    """Stage-2 applyInPandas kernel: one (z,x,y) group of packed chunks ->
    one MVT blob. Merges the chunks' columnar arrays (global value-table
    remap), sorts by key for determinism, and runs the vectorized
    assembler — pure numpy end-to-end. The per-request sentinel chunk is
    null, so an empty tile encodes in the same pass."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        import numpy as np

        z = int(pdf["z"].iloc[0])
        x = int(pdf["x"].iloc[0])
        y = int(pdf["y"].iloc[0])
        blobs = [b for b in pdf["chunk"] if b is not None]
        n_features = 0
        if not blobs:
            blob = mvtmod.encode([], layer_name=layer, extent=EXTEND)
        else:
            keys, gtypes, geom_flat, geom_lens, props = mvt_np.merge_chunks(blobs)
            n_features = len(keys)
            order = np.argsort(keys, kind="stable")  # deterministic order
            geom_flat, geom_lens = mvt_np.reorder_var(geom_flat, geom_lens, order)
            props = {name: (codes[order], uniques)
                     for name, (codes, uniques) in props.items()}
            blob = mvt_np.assemble_layer(
                keys[order], gtypes[order], geom_flat, geom_lens, props,
                layer_name=layer, extent=EXTEND,
            )
        return pd.DataFrame([{
            "z": z, "x": x, "y": y, "n_features": n_features,
            "mvt_size": len(blob), "mvt_md5": hashlib.md5(blob).hexdigest(),
            "mvt": blob,
        }])

    return kernel


def _input_fingerprint(df: DataFrame) -> tuple:
    """(paths, fingerprint) of the plan's underlying data files. A plan's
    semanticHash does NOT change when the parquet files it reads are
    regenerated in-session — the fingerprint does, so memo keys carrying
    it can't serve stale derived state. Metadata-only (no job)."""
    from urllib.parse import urlparse

    paths = tuple(urlparse(u).path or u for u in sorted(df.inputFiles()))
    return paths, cache.fingerprint(*paths)


def mvt_tiles_for(
    spark: SparkSession, feats: DataFrame,
    requests: list[tuple[int, int, int]],
    prop_cols: tuple[str, ...] = DEFAULT_PROPS,
    layer: str = LAYER,
    overview_sampling: bool = False,
) -> DataFrame:
    """Serve a batch of tile requests over an arbitrary feature table as
    MVT blobs (one row per tile). ``feats`` needs hash/key/geometry plus
    whatever ``prop_cols`` the layer declares — Tank.tile_mvt_batch passes
    its declared attr_fields here, so custom-schema layers serve through
    the same two-stage distributed pipeline as the benchmark table.

    One route: request join -> sample filter -> repartition -> map-only
    geometry stage (parse/project/clip/command-encode, parallel across
    input partitions) -> sentinel union -> per-tile assembly that only
    concatenates pre-encoded bytes with the vectorized assembler. A
    full-fidelity overview tile therefore no longer serializes the whole
    pipeline into one Python task (measured 37s -> ~4s for the
    600k-feature z7 tile at sf0.1).

    ``overview_sampling``: EVERY over-budget tile serves a deterministic
    per-tile-budgeted sample (materialized-sampling-cube policy, modulus =
    ceil(count / OVERVIEW_FEATURE_BUDGET) over a hashed key, so the blob
    is O(budget) at any table size and any zoom) — a fixed zoom boundary
    cannot bound the blob as the table grows (measured: the z9 tile is
    3.7M features / 115 MB at 100x). Tiles under budget serve exact full
    fidelity (mod=1 — bit-identical to unsampled). Costs one bounded
    count job per batch.
    """
    ensure_workers_have_package(spark)

    joined = _request_join(spark, feats, requests).select(
        "z", "x", "y", "key", "geometry", *prop_cols
    )
    # budget pass: count every requested tile (one bounded job), sample
    # only the over-budget ones; no over-budget tile -> skip the filter
    # (and its per-row md5) entirely. The memoized list is a local
    # Python list, so its emptiness costs no Spark job.
    mod_df = None
    if overview_sampling and requests:
        mods_list = _sample_mods_list(spark, feats, requests)
        if mods_list:
            from tank_spark.operators.tiles import overview_keep_col

            mod_df = local_values_df(spark, mods_list,
                                     "z int, x int, y int, mod long")
            joined = (
                joined.join(F.broadcast(mod_df), ["z", "x", "y"], "left")
                .filter(overview_keep_col(F.coalesce(F.col("mod"), F.lit(1))))
                .drop("mod")
            )
    # spread the Python geometry work across every core (the cached table
    # uses fewer, fatter partitions) and break any per-band skew — a cheap
    # round-robin shuffle of narrow rows buys full map parallelism
    chunks = (
        joined.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(make_geom_stage(prop_cols), GEOM_STAGE_SCHEMA)
    )
    # one sentinel row per request guarantees every requested tile has an
    # assembly group, so a request matching zero features serves a (valid,
    # empty) tile — the reference encodes an empty FeatureCollection, not
    # a 404. (A left-anti-join formulation would re-execute the whole
    # two-stage pipeline a second time just to find empty tiles.)
    sentinels = local_values_df(
        spark, [(z, x, y) for z, x, y in requests], "z int, x int, y int"
    ).select("z", "x", "y", F.lit(None).cast("binary").alias("chunk"))
    out = (
        chunks.unionAll(sentinels)
        .groupBy("z", "x", "y")
        .applyInPandas(make_assemble_kernel(layer), TILE_OUT_SCHEMA)
    )
    # surface the applied sampling modulus (1 = exact tile) so API
    # consumers can detect lossy blobs (ADVICE r4); broadcast join on a
    # <= #requests-row frame, so this costs nothing at scale
    if mod_df is not None:
        return (
            out.join(F.broadcast(mod_df), ["z", "x", "y"], "left")
            .withColumn("sample_mod", F.coalesce(F.col("mod"), F.lit(1)))
            .drop("mod")
        )
    return out.withColumn("sample_mod", F.lit(1).cast("long"))


def mvt_tiles(
    spark: SparkSession, sf_dir: str,
    requests: list[tuple[int, int, int]] = DEFAULT_REQUESTS,
    kind: str | None = None,
    overview_sampling: bool = False,
) -> DataFrame:
    """The benchmark-table entry: mvt_tiles_for over the derived feature
    block with its default property columns."""
    feats = features_df(spark, sf_dir)
    if kind is not None:
        feats = feats.filter(F.col("kind") == kind)
    return mvt_tiles_for(
        spark, feats, requests, overview_sampling=overview_sampling
    )


@register(
    "tile_mvt_batch",
    None,  # protobuf encoding is not SQL-expressible -> rows-only check
    doc="T1e-T1j: full tile pipeline (WKT decode, mercator project, "
        "buffered clip, integer transform, MVT encode) for the six default "
        "requests across all three planner regimes. applyInPandas kernel; "
        "deterministic blobs (features sorted by key). Over-budget tiles "
        "at ANY zoom serve the per-tile-budgeted deterministic sample "
        "(mod=ceil(count/OVERVIEW_FEATURE_BUDGET), hashed key) — the "
        "sampling-cube policy; under-budget tiles are bit-identical to "
        "full fidelity; unsampled encode stays available via mvt_tiles().",
)
def tile_mvt_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mvt_tiles(spark, sf_dir, overview_sampling=True).drop("mvt")


@register(
    "tile_mvt_z7_full",
    None,  # rows-only: MVT bytes
    doc="BENCH-ONLY, not a serving path: full-fidelity overview tile (NO "
        "sampling) — the whole table renders into one z7 tile through the "
        "two-stage distributed encode. SERVING POLICY: over-budget tiles "
        "serve the budgeted sample (mvt_tiles_for overview_sampling; "
        "SCALE.md measured the full-fidelity z7 blob at ~1.8 GB at 100x — "
        "past the MVT format's practical ceiling, Arrow's 2 GB cell "
        "limit). Kept benchmarked at full fidelity as the largest tile "
        "the batch encode renders.",
)
def tile_mvt_z7_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mvt_tiles(spark, sf_dir, requests=[(7, 20, 49)]).drop("mvt")


@register(
    "tile_mvt_z7_parity",
    None,  # rows-only: the decode audit of a protobuf blob isn't SQL
    doc="Decode-parity audit of the full-fidelity z7 overview blob — the "
        "driver-row companion of the BENCH-ONLY tile_mvt_z7_full "
        "(VERDICT r8 #3: the one registry entry with zero driver rows). "
        "Runs the same single-tile full-fidelity encode, then DECODES "
        "the blob with the package's spec-2.1 reader in a mapInPandas "
        "stage and emits declared-vs-decoded feature counts, decoded "
        "coordinate-point and property-value totals, extent, and the "
        "blob md5 — all deterministic ints/strings (features sorted by "
        "key; dict-encoded props). features_match pins encode/decode "
        "round-trip fidelity at the driver SF every time this rotates "
        "through the window.",
)
def tile_mvt_z7_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_have_package(spark)
    tiles = mvt_tiles(spark, sf_dir, requests=[(7, 20, 49)])

    def dec(it):
        import hashlib

        from tank_spark.geom import mvt as mvtmod

        def npts(coords):
            if not isinstance(coords, (list, tuple)) or not coords:
                return 0
            if not isinstance(coords[0], (list, tuple)):
                return 1  # a single [x, y] pair
            return sum(npts(c) for c in coords)

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                blob = bytes(r.mvt)
                lay = mvtmod.decode(blob)[LAYER]
                feats = lay["features"]
                rows.append({
                    "z": int(r.z), "x": int(r.x), "y": int(r.y),
                    "declared_features": int(r.n_features),
                    "decoded_features": len(feats),
                    "features_match": int(len(feats) == int(r.n_features)),
                    "decoded_points": int(sum(
                        npts(f["coords"]) for f in feats)),
                    "decoded_prop_values": int(sum(
                        len(f["props"]) for f in feats)),
                    "extent": int(lay["extent"]),
                    "mvt_size": len(blob),
                    "mvt_md5": hashlib.md5(blob).hexdigest(),
                })
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        dec,
        "z int, x int, y int, declared_features long, decoded_features "
        "long, features_match int, decoded_points long, "
        "decoded_prop_values long, extent int, mvt_size long, "
        "mvt_md5 string",
    )


# The five HASH-ALIGNED default requests (z <= HASH_LEVEL): every
# selected feature's anchor lies inside the requested tile (bucket set
# is a subset of the tile), and the derived geometries are tiny symmetric
# shapes around the anchor, so the buffered clip keeps each one — the
# decoded feature set is EXACTLY the hash-range selection after the
# per-tile sampling filter, which is SQL. The z15 request is excluded:
# its parent-bucket selection clips features outside the sub-tile, and
# the y-axis clip boundary is transcendental (features.py lat), so its
# count has no exact SQL twin; tile_mvt_batch keeps serving all six.
PARITY_REQUESTS = [r for r in DEFAULT_REQUESTS if r[0] <= HASH_LEVEL]


def _batch_parity_oracle() -> str:
    from tank_spark.operators.tiles import overview_keep_sql
    from tank_spark.sources.features import FEATURES_CTE

    B = OVERVIEW_FEATURE_BUDGET
    vals = ", ".join(
        f"({z}, {x}, {y}, {lo}, {hi})"
        for (z, x, y) in PARITY_REQUESTS
        for lo, hi in [tile_hash_range(z, x, y)]
    )
    return f"""
    {FEATURES_CTE},
    reqs(z, x, y, lo, hi) AS (VALUES {vals}),
    mods AS (
      SELECT r.z, r.x, r.y, r.lo, r.hi,
             GREATEST(1, ((SELECT COUNT(*) FROM features f
                           WHERE f.hash BETWEEN r.lo AND r.hi)
                          + {B - 1}) // {B}) AS mod
      FROM reqs r
    ),
    kept AS (
      SELECT m.z, m.x, m.y, m.mod,
             CAST(COUNT(f.key) AS BIGINT) AS nf,
             CAST(COALESCE(SUM(CASE WHEN f.key % 20 < 12 THEN 1 END), 0)
                  AS BIGINT) AS n_point,
             CAST(COALESCE(SUM(CASE WHEN f.key % 20 >= 12
                                     AND f.key % 20 < 17 THEN 1 END), 0)
                  AS BIGINT) AS n_line,
             CAST(COALESCE(SUM(CASE WHEN f.key % 20 >= 17 THEN 1 END), 0)
                  AS BIGINT) AS n_poly
      FROM mods m LEFT JOIN features f
        ON f.hash BETWEEN m.lo AND m.hi
       AND {overview_keep_sql('m.mod')}
      GROUP BY m.z, m.x, m.y, m.mod
    )
    SELECT z, x, y, nf AS decoded_features,
           CAST(1 AS INTEGER) AS features_match,
           n_point, n_line, n_poly,
           CAST(4 * nf AS BIGINT) AS decoded_prop_values,
           CAST(mod AS BIGINT) AS sample_mod
    FROM kept
    """


@register(
    "tile_mvt_batch_parity",
    _batch_parity_oracle(),
    doc="Decode-parity ORACLE for the batch MVT serving path (VERDICT r9 "
        "#3 — the heatmap_mvt_z9_parity pattern applied to the last "
        "rows-only MVT emitter): runs the SAME budget-sampled encode as "
        "tile_mvt_batch over the five hash-aligned default requests, "
        "DECODES every blob with the package's spec-2.1 reader in a "
        "mapInPandas stage, and hash-matches per-tile decoded feature / "
        "geometry-type / property counts plus the applied sampling "
        "modulus against the exact SQL selection (hash BETWEEN + derived "
        "mod + md5-hashed keep predicate). A green row certifies the "
        "whole request-join -> sample -> clip -> encode -> decode chain "
        "numerically, not just blob stability.",
)
def tile_mvt_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_have_package(spark)
    tiles = mvt_tiles(spark, sf_dir, requests=PARITY_REQUESTS,
                      overview_sampling=True)

    def dec(it):
        from tank_spark.geom import mvt as mvtmod_w

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                feats = mvtmod_w.decode(bytes(r.mvt))[LAYER]["features"]
                gt = [f["geom_type"] for f in feats]
                rows.append({
                    "z": int(r.z), "x": int(r.x), "y": int(r.y),
                    "decoded_features": len(feats),
                    "features_match": int(len(feats) == int(r.n_features)),
                    "n_point": sum(t.endswith("Point") for t in gt),
                    "n_line": sum(t.endswith("LineString") for t in gt),
                    "n_poly": sum(t.endswith("Polygon") for t in gt),
                    "decoded_prop_values": int(sum(
                        len(f["props"]) for f in feats)),
                    "sample_mod": int(r.sample_mod),
                })
            yield pd.DataFrame(rows, columns=[
                "z", "x", "y", "decoded_features", "features_match",
                "n_point", "n_line", "n_poly", "decoded_prop_values",
                "sample_mod"])

    return tiles.mapInPandas(
        dec,
        "z int, x int, y int, decoded_features long, features_match int, "
        "n_point long, n_line long, n_poly long, decoded_prop_values long, "
        "sample_mod long",
    )


def _heatmap_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (z,x,y) group of heatmap cells -> MVT of cell polygons with a
    ``count`` property (reference application.kt:601-610).

    Cells subdivide the tile bbox linearly in DEGREES (reference
    application.kt:555), so after mercator projection the cell rows are
    NOT evenly spaced in tile y — each corner is projected individually,
    exactly like the reference's projectFeature + transformTile path.
    cell_j counts from the south edge."""
    import hashlib

    z = int(pdf["z"].iloc[0])
    x = int(pdf["x"].iloc[0])
    y = int(pdf["y"].iloc[0])
    z2 = 1 << z
    n = grid_n(z)
    lon0, lat0, lon1, lat1 = tilemath.tile_bbox(z, x, y)
    xd = (lon1 - lon0) / n
    yd = (lat1 - lat0) / n

    def corner(lon: float, lat: float) -> list[int]:
        wx, wy = tilemath.project(lon, lat)
        return [round((wx * z2 - x) * EXTEND), round((wy * z2 - y) * EXTEND)]

    feats = []
    for row in pdf.sort_values(["cell_i", "cell_j"]).itertuples(index=False):
        i, j = int(row.cell_i), int(row.cell_j)
        w, s = lon0 + i * xd, lat0 + j * yd
        e, nn = w + xd, s + yd
        ring = [corner(w, s), corner(e, s), corner(e, nn), corner(w, nn),
                corner(w, s)]
        feats.append({
            "geom_type": "Polygon", "coords": [ring],
            "props": {"count": int(row.n_features)},
        })
    blob = mvtmod.encode(feats, layer_name=LAYER, extent=EXTEND)
    return pd.DataFrame([{
        "z": z, "x": x, "y": y, "n_cells": len(feats),
        "mvt_size": len(blob), "mvt_md5": hashlib.md5(blob).hexdigest(),
        "mvt": blob,
    }])


def heatmap_mvt(spark: SparkSession, sf_dir: str, z: int, x: int, y: int) -> DataFrame:
    from tank_spark.operators.heatmap import heatmap
    ensure_workers_have_package(spark)

    cells = heatmap(spark, sf_dir, z, x, y).withColumns(
        {"z": F.lit(z), "x": F.lit(x), "y": F.lit(y)}
    )
    return cells.groupBy("z", "x", "y").applyInPandas(
        _heatmap_kernel,
        "z int, x int, y int, n_cells long, mvt_size long, mvt_md5 string, mvt binary",
    )


@register(
    "heatmap_mvt_z9",
    None,  # rows-only: MVT bytes
    doc="H5: heatmap cells encoded as an MVT layer of cell polygons with "
        "`count` properties.",
)
def heatmap_mvt_z9(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heatmap_mvt(spark, sf_dir, 9, 80, 196).drop("mvt")


@register(
    "heatmap_mvt_z9_parity",
    heatmap_oracle(9, 80, 196),
    doc="H5 with a FULL oracle: the z9 heatmap MVT blob decoded back "
        "through the package's spec-2.1 reader into per-cell "
        "(cell_i, cell_j, n_features) rows. Cell indices are recovered by "
        "inverting each polygon's SW corner against the same "
        "degree-grid + mercator + integer-transform math the encoder "
        "used (MVT zigzag varints store the corners exactly, so the "
        "inversion is a dict lookup, never a nearest-match). The oracle "
        "is heatmap_z9's exact-count SQL — so a green row certifies the "
        "whole encode+decode chain end-to-end, upgrading the heatmap-MVT "
        "path from rows-only to hash-matched (VERDICT r8 #5 class).",
)
def heatmap_mvt_z9_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_have_package(spark)
    z, x, y = 9, 80, 196
    tiles = heatmap_mvt(spark, sf_dir, z, x, y)

    def dec(it):
        from tank_spark.geom import mvt as mvtmod
        from tank_spark.geom import tilemath as tm

        z2 = 1 << z
        n = grid_n(z)
        lon0, lat0, lon1, lat1 = tm.tile_bbox(z, x, y)
        xd = (lon1 - lon0) / n
        yd = (lat1 - lat0) / n
        # SW-corner integer coords -> (i, j), same math as _heatmap_kernel
        corners = {}
        for i in range(n):
            for j in range(n):
                wx, wy = tm.project(lon0 + i * xd, lat0 + j * yd)
                key = (round((wx * z2 - x) * EXTEND),
                       round((wy * z2 - y) * EXTEND))
                corners[key] = (i, j)

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                lay = mvtmod.decode(bytes(r.mvt))[LAYER]
                for f in lay["features"]:
                    ci, cj = corners[tuple(f["coords"][0][0])]
                    rows.append({
                        "cell_i": ci, "cell_j": cj,
                        "n_features": int(f["props"]["count"]),
                    })
            yield pd.DataFrame(
                rows, columns=["cell_i", "cell_j", "n_features"])

    return tiles.mapInPandas(dec, "cell_i long, cell_j long, n_features long")
