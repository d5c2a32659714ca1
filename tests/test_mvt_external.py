"""EXTERNAL MVT fixtures: pin the encoder against the published
vector-tile-spec 2.1 artifacts, not against the repo's own decoder.

Three independent anchors:

1. The spec's §4.3.5 worked geometry examples — the command-integer
   sequences printed in the spec text are asserted verbatim against
   ``_encode_geometry``.
2. A byte-level tile fixture hand-assembled in this file from the
   protobuf wire format + vector_tile.proto field numbers (the spec
   repo's canonical "hello world points" example tile), asserted
   byte-equal against ``encode`` and semantically against ``decode``.
3. A hand decoder written here from the protobuf wire spec alone —
   shares zero code with tank_spark.geom.mvt — used to decode both the
   scalar encoder's and the vectorized numpy assembler's output.

vector_tile.proto field numbers (spec 2.1):
  Tile.layers = 3
  Layer: version=15, name=1, features=2, keys=3, values=4, extent=5
  Feature: id=1, tags=2, type=3, geometry=4
  Value: string=1, float=2, double=3, int=4, uint=5, sint=6, bool=7
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from tank_spark.geom import mvt as mvtmod
from tank_spark.geom import mvt_np


# ---------------------------------------------------------- hand decoder
# Written from the protobuf wire format description only (varint = LEB128
# with high-bit continuation; wire types 0=varint, 1=fixed64, 2=len-delim,
# 5=fixed32). Deliberately does NOT import anything from tank_spark.


def _hd_varint(buf, i):
    v = s = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << s
        if not (b & 0x80):
            return v, i
        s += 7


def _hd_fields(buf):
    """Yield (field_no, wire_type, python_value) for one message."""
    i = 0
    while i < len(buf):
        key, i = _hd_varint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _hd_varint(buf, i)
        elif wt == 1:
            v = buf[i:i + 8]
            i += 8
        elif wt == 2:
            ln, i = _hd_varint(buf, i)
            v = buf[i:i + ln]
            i += ln
        elif wt == 5:
            v = buf[i:i + 4]
            i += 4
        else:
            raise AssertionError(f"wire type {wt} not in MVT")
        yield fno, wt, v


def _hd_unzigzag(u):
    return (u >> 1) ^ -(u & 1)


def _hd_value(buf):
    for fno, _, v in _hd_fields(buf):
        return {
            1: lambda: v.decode("utf-8"),
            2: lambda: struct.unpack("<f", v)[0],
            3: lambda: struct.unpack("<d", v)[0],
            4: lambda: v,          # int64 varint
            5: lambda: v,          # uint64 varint
            6: lambda: _hd_unzigzag(v),
            7: lambda: bool(v),
        }[fno]()
    return None


def _hd_geometry(cmd_ints):
    """Command stream -> list of paths, each a list of absolute (x, y);
    closed paths get a True flag. Spec §4.3: MoveTo=1 LineTo=2 Close=7."""
    i, cx, cy = 0, 0, 0
    paths, cur = [], None
    while i < len(cmd_ints):
        c = cmd_ints[i]
        i += 1
        cmd, count = c & 7, c >> 3
        if cmd == 7:
            assert count == 1
            paths[-1] = (paths[-1][0], True)
            continue
        assert cmd in (1, 2)
        for _ in range(count):
            cx += _hd_unzigzag(cmd_ints[i])
            cy += _hd_unzigzag(cmd_ints[i + 1])
            i += 2
            if cmd == 1:
                cur = [(cx, cy)]
                paths.append((cur, False))
            else:
                cur.append((cx, cy))
    return paths


def hand_decode(blob):
    """Full tile -> {layer_name: {extent, version, features:[{id, props,
    gtype, paths}]}} using only this file's wire-format reading."""
    out = {}
    for fno, _, layer_buf in _hd_fields(blob):
        assert fno == 3, "Tile has only field 3 (layers)"
        name, extent, version = None, 4096, None
        keys, values, raw_feats = [], [], []
        for f, _, v in _hd_fields(layer_buf):
            if f == 1:
                name = v.decode("utf-8")
            elif f == 15:
                version = v
            elif f == 5:
                extent = v
            elif f == 3:
                keys.append(v.decode("utf-8"))
            elif f == 4:
                values.append(_hd_value(v))
            elif f == 2:
                raw_feats.append(v)
        feats = []
        for fb in raw_feats:
            fid, tags, gtype, cmds = None, [], None, []
            for f, _, v in _hd_fields(fb):
                if f == 1:
                    fid = v
                elif f == 2:
                    i = 0
                    while i < len(v):
                        t, i = _hd_varint(v, i)
                        tags.append(t)
                elif f == 3:
                    gtype = v
                elif f == 4:
                    i = 0
                    while i < len(v):
                        c, i = _hd_varint(v, i)
                        cmds.append(c)
            assert len(tags) % 2 == 0
            props = {keys[tags[j]]: values[tags[j + 1]]
                     for j in range(0, len(tags), 2)}
            feats.append({"id": fid, "props": props, "gtype": gtype,
                          "paths": _hd_geometry(cmds)})
        out[name] = {"extent": extent, "version": version, "features": feats}
    return out


# ----------------------------------------- spec §4.3.5 geometry examples


def test_spec_point_example():
    # spec 2.1 §4.3.5.1: Point(25,17) -> [9, 50, 34]
    assert mvtmod._encode_geometry("Point", (25, 17)) == [9, 50, 34]


def test_spec_multipoint_example():
    # §4.3.5.2: MultiPoint (5,7),(3,2) -> [17, 10, 14, 3, 9]
    assert mvtmod._encode_geometry(
        "MultiPoint", [(5, 7), (3, 2)]) == [17, 10, 14, 3, 9]


def test_spec_linestring_example():
    # §4.3.5.3: LineString (2,2),(2,10),(10,10)
    #   -> [9, 4, 4, 18, 0, 16, 16, 0]
    assert mvtmod._encode_geometry(
        "LineString", [(2, 2), (2, 10), (10, 10)]
    ) == [9, 4, 4, 18, 0, 16, 16, 0]


def test_spec_multilinestring_example():
    # §4.3.5.4: lines (2,2),(2,10),(10,10) and (1,1),(3,5)
    #   -> [9,4,4,18,0,16,16,0, 9,17,17,10,4,8]
    assert mvtmod._encode_geometry(
        "MultiLineString", [[(2, 2), (2, 10), (10, 10)], [(1, 1), (3, 5)]]
    ) == [9, 4, 4, 18, 0, 16, 16, 0, 9, 17, 17, 10, 4, 8]


def test_spec_polygon_example():
    # §4.3.5.5: Polygon (3,6),(8,12),(20,34) closed
    #   -> [9, 6, 12, 18, 10, 12, 24, 44, 15]
    assert mvtmod._encode_geometry(
        "Polygon", [[(3, 6), (8, 12), (20, 34), (3, 6)]]
    ) == [9, 6, 12, 18, 10, 12, 24, 44, 15]


def test_spec_multipolygon_example():
    # §4.3.5.6: two squares, the second with a hole; both exteriors CW
    # positive-area, the hole negative-area, cursor carried across parts
    rings = [
        [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]],
        [
            [(11, 11), (20, 11), (20, 20), (11, 20), (11, 11)],
            [(13, 13), (13, 17), (17, 17), (17, 13), (13, 13)],
        ],
    ]
    assert mvtmod._encode_geometry("MultiPolygon", rings) == [
        9, 0, 0, 26, 20, 0, 0, 20, 19, 0, 15,
        9, 22, 2, 26, 18, 0, 0, 18, 17, 0, 15,
        9, 4, 13, 26, 0, 8, 8, 0, 0, 7, 15,
    ]


# -------------------------------------------- byte-level tile fixture


def _fixture_point_tile_bytes() -> bytes:
    """The spec repo's canonical one-point example tile, hand-assembled
    byte by byte: layer "points", extent 4096, one feature id=1 at
    (25,17) with {"hello": "world"} — every byte below is derived from
    the wire format by hand, independent of the encoder."""
    return bytes([
        0x1A, 0x2C,                    # Tile.layers (field 3), len 44
        0x78, 0x02,                    # Layer.version (field 15) = 2
        0x0A, 0x06,                    # Layer.name (field 1), len 6
        0x70, 0x6F, 0x69, 0x6E, 0x74, 0x73,        # "points"
        0x12, 0x0D,                    # Layer.features (field 2), len 13
        0x08, 0x01,                    # Feature.id (field 1) = 1
        0x12, 0x02, 0x00, 0x00,        # Feature.tags = [0, 0]
        0x18, 0x01,                    # Feature.type (field 3) = POINT
        0x22, 0x03, 0x09, 0x32, 0x22,  # Feature.geometry = [9, 50, 34]
        0x1A, 0x05,                    # Layer.keys (field 3), len 5
        0x68, 0x65, 0x6C, 0x6C, 0x6F,              # "hello"
        0x22, 0x07,                    # Layer.values (field 4), len 7
        0x0A, 0x05,                    # Value.string_value, len 5
        0x77, 0x6F, 0x72, 0x6C, 0x64,              # "world"
        0x28, 0x80, 0x20,              # Layer.extent (field 5) = 4096
    ])


def test_fixture_tile_byte_exact():
    """encode() reproduces the hand-assembled spec example byte-for-byte
    (the encoder's field order — version, name, features, keys, values,
    extent — matches the fixture's; any wire-format mistake, wrong tag
    byte, varint, zigzag or length, breaks equality)."""
    blob = mvtmod.encode(
        [{"geom_type": "Point", "coords": (25, 17),
          "props": {"hello": "world"}, "id": 1}],
        layer_name="points", extent=4096,
    )
    assert blob == _fixture_point_tile_bytes()


def test_fixture_tile_repo_decoder():
    """The repo decoder reads the hand-built fixture correctly."""
    dec = mvtmod.decode(_fixture_point_tile_bytes())
    assert list(dec) == ["points"]
    layer = dec["points"]
    assert layer["extent"] == 4096
    (f,) = layer["features"]
    assert f["id"] == 1 and f["props"] == {"hello": "world"}
    assert f["geom_type"] == "Point" and list(f["coords"]) == [25, 17]


def test_fixture_tile_np_assembler_byte_exact():
    """The vectorized numpy assembler emits the SAME bytes as the spec
    fixture for the same content (it shares the field layout)."""
    blob = mvt_np.assemble_layer(
        np.array([1], dtype=np.int64),
        np.array([1], dtype=np.int8),
        np.frombuffer(bytes([0x09, 0x32, 0x22]), dtype=np.uint8),
        np.array([3], dtype=np.int64),
        {"hello": pd.Series(["world"])},
        layer_name="points", extent=4096,
    )
    assert blob == _fixture_point_tile_bytes()


# ------------------------------- hand decoder over both encoder paths


_RICH_FEATURES = [
    {"geom_type": "Point", "coords": (0, 0),
     "props": {"name": "origin", "rank": 1, "score": 0.5}, "id": 10},
    {"geom_type": "LineString", "coords": [(2, 2), (2, 10), (10, 10)],
     "props": {"name": "path", "rank": -3, "flag": True}, "id": 11},
    {"geom_type": "Polygon",
     "coords": [[(3, 6), (8, 12), (20, 34), (3, 6)]],
     "props": {"name": "tri", "score": -2.25}, "id": 12},
]


def test_hand_decode_scalar_encoder():
    dec = hand_decode(mvtmod.encode(_RICH_FEATURES, layer_name="rich"))
    layer = dec["rich"]
    assert layer["version"] == 2 and layer["extent"] == 4096
    f0, f1, f2 = layer["features"]
    assert f0 == {"id": 10, "props": {"name": "origin", "rank": 1,
                                      "score": 0.5},
                  "gtype": 1, "paths": [([(0, 0)], False)]}
    assert f1["id"] == 11 and f1["gtype"] == 2
    assert f1["props"] == {"name": "path", "rank": -3, "flag": True}
    assert f1["paths"] == [([(2, 2), (2, 10), (10, 10)], False)]
    assert f2["id"] == 12 and f2["gtype"] == 3
    assert f2["props"] == {"name": "tri", "score": -2.25}
    # closed ring: MoveTo start + LineTo interior points + ClosePath flag
    assert f2["paths"] == [([(3, 6), (8, 12), (20, 34)], True)]


def test_hand_decode_np_assembler_parity():
    """Scalar encoder and numpy assembler agree under the INDEPENDENT
    decoder — the parity that backs the batch tile pipeline."""
    ids = np.array([10, 11, 12], dtype=np.int64)
    gtypes = np.array([1, 2, 3], dtype=np.int8)
    streams = [
        b"".join(mvtmod._varint(c)
                 for c in mvtmod._encode_geometry(f["geom_type"], f["coords"]))
        for f in _RICH_FEATURES
    ]
    geom_flat = np.frombuffer(b"".join(streams), dtype=np.uint8)
    geom_lens = np.array([len(s) for s in streams], dtype=np.int64)
    props = {
        "name": pd.Series(["origin", "path", "tri"]),
        "rank": pd.Series([1, -3, None], dtype="Int64"),
        "score": pd.Series([0.5, None, -2.25]),
        "flag": pd.Series([None, True, None], dtype="boolean"),
    }
    blob = mvt_np.assemble_layer(ids, gtypes, geom_flat, geom_lens, props,
                                 layer_name="rich")
    a = hand_decode(blob)["rich"]
    b = hand_decode(mvtmod.encode(_RICH_FEATURES, layer_name="rich"))["rich"]
    assert a["extent"] == b["extent"] and a["version"] == b["version"]
    assert a["features"] == b["features"]


@pytest.mark.parametrize("neg", [-1, -4096, -(1 << 40)])
def test_hand_decode_negative_ints(neg):
    """sint64 zigzag survives the independent decoder for wide negatives."""
    blob = mvtmod.encode(
        [{"geom_type": "Point", "coords": (1, 1), "props": {"v": neg}}],
        layer_name="l",
    )
    (f,) = hand_decode(blob)["l"]["features"]
    assert f["props"]["v"] == neg
