"""Mapbox Vector Tile (spec 2.1) encoder/decoder, pure Python.

Parity target: the reference's ``encoder.encode(features, base_layer)``
(application.kt:461-467) — one MVT layer, extent 4096, zigzag varint
command-encoded geometries, typed property values (SURVEY.md §2.9).

The decoder exists for tests: golden comparisons decode tiles and compare
feature sets rather than raw bytes, because MVT encoding is not canonical
(key/value table ordering is encoder-dependent) — SURVEY.md §5.

Wire format implemented from the public vector-tile-spec 2.1 protobuf
schema (Tile / Layer / Feature / Value messages, zigzag + varint).
"""

from __future__ import annotations

GEOM_TYPES = {"Point": 1, "MultiPoint": 1, "LineString": 2,
              "MultiLineString": 2, "Polygon": 3, "MultiPolygon": 3}
_MOVE_TO, _LINE_TO, _CLOSE_PATH = 1, 2, 7


# ------------------------------------------------------------ varint layer

def _varint_slow(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# varints up to 2^14 cover tile-local coordinates (zigzag of +-8192) and
# all tag/length bytes in practice — a lookup table beats re-encoding them
# per feature on large tiles (the encoder is pure Python)
_VARINT_LUT = [_varint_slow(i) for i in range(1 << 14)]


def _varint(v: int) -> bytes:
    if 0 <= v < (1 << 14):
        return _VARINT_LUT[v]
    return _varint_slow(v)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


# ------------------------------------------------------------- value codec

def _encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, int):
        # sint64, zigzag (field 6) — covers negatives cleanly
        return _tag(6, 0) + _varint(_zigzag(v))
    if isinstance(v, float):
        import struct
        return _tag(3, 1) + struct.pack("<d", v)
    s = str(v).encode("utf-8")
    return _len_delim(1, s)


# --------------------------------------------------------- geometry codec

def _signed_area2(ring) -> int:
    """Twice the signed area of a closed ring (shoelace, tile coords)."""
    return sum(
        int(x1) * int(y2) - int(x2) * int(y1)
        for (x1, y1), (x2, y2) in zip(ring, ring[1:])
    )


def _orient(ring, exterior: bool):
    """Normalize ring winding per MVT spec 2.1 §4.3.3.3: exterior rings
    positive signed area, interior rings (holes) negative. Input winding
    is whatever the source data used (GeoJSON is CCW-exterior in lon/lat,
    which flips sign under the y-down tile transform)."""
    a = _signed_area2(ring)
    if (a < 0) if exterior else (a > 0):
        return ring[::-1]
    return ring


def _encode_geometry(geom_type: str, coords) -> list[int]:
    """Integer tile-local coords -> MVT command/param stream."""
    cmds: list[int] = []
    cx = cy = 0

    def move_line(points, close: bool):
        nonlocal cx, cy
        cmds.append(1 << 3 | _MOVE_TO)
        x, y = int(points[0][0]), int(points[0][1])
        cmds.extend((_zigzag(x - cx), _zigzag(y - cy)))
        cx, cy = x, y
        rest = points[1:-1] if close else points[1:]
        if rest:
            cmds.append(len(rest) << 3 | _LINE_TO)
            for p in rest:
                x, y = int(p[0]), int(p[1])
                cmds.extend((_zigzag(x - cx), _zigzag(y - cy)))
                cx, cy = x, y
        if close:
            cmds.append(1 << 3 | _CLOSE_PATH)

    t = geom_type
    if t == "Point":
        cmds.append(1 << 3 | _MOVE_TO)
        cmds.extend((_zigzag(int(coords[0])), _zigzag(int(coords[1]))))
    elif t == "MultiPoint":
        cmds.append(len(coords) << 3 | _MOVE_TO)
        for p in coords:
            x, y = int(p[0]), int(p[1])
            cmds.extend((_zigzag(x - cx), _zigzag(y - cy)))
            cx, cy = x, y
    elif t == "LineString":
        move_line(coords, close=False)
    elif t == "MultiLineString":
        for line in coords:
            move_line(line, close=False)
    elif t == "Polygon":
        for r, ring in enumerate(coords):
            move_line(_orient(ring, exterior=r == 0), close=True)
    elif t == "MultiPolygon":
        for poly in coords:
            for r, ring in enumerate(poly):
                move_line(_orient(ring, exterior=r == 0), close=True)
    else:
        raise ValueError(f"unsupported geometry type: {t}")
    return cmds


def geometry_bytes(geom_type: str, coords) -> bytes:
    """Integer tile-local coords -> the varint-packed command stream (the
    ``Feature.geometry`` payload)."""
    return b"".join(_varint(c) for c in _encode_geometry(geom_type, coords))


# -------------------------------------------------------------- public API

def encode(features, layer_name: str = "io.marauder.tank", extent: int = 4096) -> bytes:
    """Encode features -> one-layer MVT blob.

    ``features``: iterable of dicts ``{"geom_type", "coords", "props",
    "id"(optional int)}`` with integer tile-local coordinates (post
    transform, reference application.kt:459-467). A feature may instead
    carry its geometry pre-encoded: ``"gtype"`` (MVT type code 1..3) and
    ``"geom"`` (the :func:`geometry_bytes` payload), as the tile
    pipeline's geometry encoder emits it.
    """
    keys: list[str] = []
    key_ix: dict[str, int] = {}
    values: list[bytes] = []
    val_ix: dict[tuple, int] = {}
    feats = bytearray()

    for f in features:
        tags: list[int] = []
        for k, v in (f.get("props") or {}).items():
            if v is None:
                continue
            if k not in key_ix:
                key_ix[k] = len(keys)
                keys.append(k)
            vk = (type(v).__name__, v)
            if vk not in val_ix:
                val_ix[vk] = len(values)
                values.append(_encode_value(v))
            tags.extend((key_ix[k], val_ix[vk]))

        body = bytearray()
        if f.get("id") is not None:
            body += _tag(1, 0) + _varint(int(f["id"]))
        if tags:
            packed = b"".join(_varint(t) for t in tags)
            body += _len_delim(2, packed)
        if "geom" in f:
            gtype, geom = f["gtype"], f["geom"]
        else:
            gtype = GEOM_TYPES[f["geom_type"]]
            geom = geometry_bytes(f["geom_type"], f["coords"])
        body += _tag(3, 0) + _varint(gtype)
        body += _len_delim(4, geom)
        feats += _len_delim(2, bytes(body))

    layer = bytearray()
    layer += _tag(15, 0) + _varint(2)                    # version
    layer += _len_delim(1, layer_name.encode("utf-8"))   # name
    layer += feats                                       # features
    for k in keys:
        layer += _len_delim(3, k.encode("utf-8"))
    for v in values:
        layer += _len_delim(4, v)
    layer += _tag(5, 0) + _varint(extent)
    return bytes(_len_delim(3, bytes(layer)))            # Tile.layers = 3


# ---------------------------------------------------------------- decoder

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def _scan(buf: bytes):
    """Yield (field, wire, value_or_bytes) over a protobuf message."""
    import struct
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 0x7
        if wire == 0:
            v, i = _read_varint(buf, i)
            yield field, wire, v
        elif wire == 1:
            yield field, wire, struct.unpack("<d", buf[i:i + 8])[0]
            i += 8
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            yield field, wire, buf[i:i + ln]
            i += ln
        elif wire == 5:
            yield field, wire, struct.unpack("<f", buf[i:i + 4])[0]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _decode_value(buf: bytes):
    for field, _, v in _scan(buf):
        if field == 1:
            return v.decode("utf-8")
        if field in (2, 3):
            return v
        if field in (4, 5):
            return v
        if field == 6:
            return _unzigzag(v)
        if field == 7:
            return bool(v)
    return None


def _decode_geometry(gtype: int, cmds: list[int]):
    i = 0
    cx = cy = 0
    parts = []
    cur = None
    while i < len(cmds):
        cmd_int = cmds[i]
        i += 1
        cmd, count = cmd_int & 0x7, cmd_int >> 3
        if cmd == _CLOSE_PATH:
            if cur:
                cur.append(cur[0][:])
            continue
        for _ in range(count):
            cx += _unzigzag(cmds[i])
            cy += _unzigzag(cmds[i + 1])
            i += 2
            if cmd == _MOVE_TO:
                cur = [[cx, cy]]
                parts.append(cur)
            else:
                cur.append([cx, cy])
    if gtype == 1:
        pts = [p[0] for p in parts]
        return ("Point", pts[0]) if len(pts) == 1 else ("MultiPoint", pts)
    if gtype == 2:
        return ("LineString", parts[0]) if len(parts) == 1 else ("MultiLineString", parts)
    # polygons: exterior rings have positive signed area (spec 2.1); a new
    # exterior starts a new polygon
    polys = []
    for ring in parts:
        area = sum(x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(ring, ring[1:]))
        if area >= 0 or not polys:
            polys.append([ring])
        else:
            polys[-1].append(ring)
    return ("Polygon", polys[0]) if len(polys) == 1 else ("MultiPolygon", polys)


def decode(blob: bytes) -> dict:
    """Decode a one-or-more-layer MVT blob -> {layer_name: {...}}."""
    out = {}
    for field, _, layer_buf in _scan(blob):
        if field != 3:
            continue
        name, extent, version = "", 4096, 2
        keys, values, feats = [], [], []
        for f, _, v in _scan(layer_buf):
            if f == 1:
                name = v.decode("utf-8")
            elif f == 15:
                version = v
            elif f == 5:
                extent = v
            elif f == 3:
                keys.append(v.decode("utf-8"))
            elif f == 4:
                values.append(_decode_value(v))
            elif f == 2:
                feats.append(v)
        features = []
        for fb in feats:
            fid, tags, gtype, cmds = None, [], 0, []
            for f, w, v in _scan(fb):
                if f == 1:
                    fid = v
                elif f == 2:
                    j = 0
                    while j < len(v):
                        t, j = _read_varint(v, j)
                        tags.append(t)
                elif f == 3:
                    gtype = v
                elif f == 4:
                    j = 0
                    while j < len(v):
                        c, j = _read_varint(v, j)
                        cmds.append(c)
            gt, coords = _decode_geometry(gtype, cmds)
            props = {keys[tags[k]]: values[tags[k + 1]] for k in range(0, len(tags), 2)}
            features.append({"id": fid, "geom_type": gt, "coords": coords, "props": props})
        out[name] = {"version": version, "extent": extent, "features": features}
    return out
