"""WKB codec round-trip + measure tests (SURVEY.md §5.2: systematize the
reference's implicit round-trip test with hypothesis properties)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparquet_python_spark.geo import wkb

finite = st.floats(
    allow_nan=False,
    allow_infinity=False,
    min_value=-1e12,
    max_value=1e12,
)
coord = st.tuples(finite, finite)


def ring(points: list[tuple[float, float]]) -> np.ndarray:
    """Close a ring (first == last) as WKB expects."""
    return np.asarray(points + [points[0]], dtype="f8")


@given(coord)
def test_point_roundtrip(p):
    kind, val = wkb.decode(wkb.encode(("Point", p)))
    assert kind == "Point"
    assert val == (p[0], p[1])


@given(st.lists(coord, min_size=2, max_size=50))
def test_linestring_roundtrip(pts):
    a = np.asarray(pts, dtype="f8")
    kind, val = wkb.decode(wkb.encode(("LineString", a)))
    assert kind == "LineString"
    np.testing.assert_array_equal(val, a)


@given(
    st.lists(st.lists(coord, min_size=3, max_size=12), min_size=1, max_size=4)
)
@settings(max_examples=50)
def test_polygon_roundtrip(rings):
    poly = [ring(r) for r in rings]
    kind, val = wkb.decode(wkb.encode(("Polygon", poly)))
    assert kind == "Polygon"
    assert len(val) == len(poly)
    for got, want in zip(val, poly):
        np.testing.assert_array_equal(got, want)


@given(st.lists(coord, min_size=1, max_size=30))
def test_multipoint_roundtrip(pts):
    a = np.asarray(pts, dtype="f8")
    kind, val = wkb.decode(wkb.encode(("MultiPoint", a)))
    assert kind == "MultiPoint"
    np.testing.assert_array_equal(val, a)


@given(
    st.lists(
        st.lists(st.lists(coord, min_size=3, max_size=8), min_size=1, max_size=2),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=30)
def test_multipolygon_roundtrip(polys):
    mp = [[ring(r) for r in rings] for rings in polys]
    kind, val = wkb.decode(wkb.encode(("MultiPolygon", mp)))
    assert kind == "MultiPolygon"
    assert len(val) == len(mp)


def test_collection_roundtrip():
    g = (
        "GeometryCollection",
        [
            ("Point", (1.0, 2.0)),
            ("LineString", np.array([[0.0, 0.0], [1.0, 1.0]])),
        ],
    )
    kind, val = wkb.decode(wkb.encode(g))
    assert kind == "GeometryCollection"
    assert val[0] == ("Point", (1.0, 2.0))


def test_big_endian_decode():
    import struct

    buf = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.5, -7.25)
    assert wkb.decode(buf) == ("Point", (3.5, -7.25))


@given(st.lists(coord, min_size=1, max_size=64))
def test_vectorized_points(pts):
    a = np.asarray(pts, dtype="f8")
    bufs = wkb.encode_points(a[:, 0], a[:, 1])
    assert all(len(b) == 21 for b in bufs)
    xs, ys = wkb.decode_points(bufs)
    np.testing.assert_array_equal(xs, a[:, 0])
    np.testing.assert_array_equal(ys, a[:, 1])
    # scalar codec agrees with the vectorized one
    assert wkb.decode(bufs[0]) == ("Point", (a[0, 0], a[0, 1]))


def test_area_square_with_hole():
    shell = ring([(0, 0), (10, 0), (10, 10), (0, 10)])
    hole = ring([(2, 2), (4, 2), (4, 4), (2, 4)])
    assert wkb.area(("Polygon", [shell])) == pytest.approx(100.0)
    assert wkb.area(("Polygon", [shell, hole])) == pytest.approx(96.0)
    assert wkb.area(("MultiPolygon", [[shell], [hole]])) == pytest.approx(104.0)


def test_length_and_perimeter():
    ls = np.array([[0.0, 0.0], [3.0, 4.0], [3.0, 8.0]])
    assert wkb.length(("LineString", ls)) == pytest.approx(9.0)
    sq = ring([(0, 0), (2, 0), (2, 2), (0, 2)])
    assert wkb.length(("Polygon", [sq])) == pytest.approx(8.0)


def test_centroid():
    sq = ring([(0, 0), (4, 0), (4, 4), (0, 4)])
    assert wkb.centroid(("Polygon", [sq])) == pytest.approx((2.0, 2.0))
    # hole pulls centroid away symmetrically -> still center if hole centered
    hole = ring([(1, 1), (3, 1), (3, 3), (1, 3)])
    assert wkb.centroid(("Polygon", [sq, hole])) == pytest.approx((2.0, 2.0))
    # off-center hole shifts it
    hole2 = ring([(0, 0), (2, 0), (2, 2), (0, 2)])
    cx, cy = wkb.centroid(("Polygon", [sq, hole2]))
    assert cx > 2.0 and cy > 2.0
    assert wkb.centroid(("LineString", np.array([[0.0, 0.0], [2.0, 0.0]]))) == (
        1.0,
        0.0,
    )


def test_bbox():
    poly = [ring([(1, -2), (5, 0), (3, 7)])]
    assert wkb.bbox(("Polygon", poly)) == (1.0, -2.0, 5.0, 7.0)
    assert wkb.bbox(("Point", (2.0, 3.0))) == (2.0, 3.0, 2.0, 3.0)


def test_point_in_polygon():
    shell = ring([(0, 0), (10, 0), (10, 10), (0, 10)])
    hole = ring([(4, 4), (6, 4), (6, 6), (4, 6)])
    poly = ("Polygon", [shell, hole])
    assert wkb.contains(poly, 1.0, 1.0)
    assert not wkb.contains(poly, 5.0, 5.0)  # in the hole
    assert not wkb.contains(poly, 11.0, 5.0)
    # concave polygon
    concave = ("Polygon", [ring([(0, 0), (10, 0), (10, 10), (5, 2), (0, 10)])])
    assert wkb.contains(concave, 1.0, 2.0)
    assert not wkb.contains(concave, 5.0, 6.0)


def test_wkt():
    assert wkb.to_wkt(("Point", (1.5, -2.0))) == "POINT (1.5 -2)"
    sq = ring([(0, 0), (1, 0), (1, 1), (0, 1)])
    assert wkb.to_wkt(("Polygon", [sq])).startswith("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")


# ------------------------------------------- columnar kernel vs per-row path


def _encode_be(geom: tuple) -> bytes:
    """Big-endian WKB encoder (the codec only writes little-endian)."""
    import struct

    kind, val = geom
    head = b"\x00" + struct.pack(">I", wkb._CODES[kind])

    def coords(a):
        a = np.asarray(a, dtype="f8").reshape(-1, 2)
        return struct.pack(">I", len(a)) + a.astype(">f8").tobytes()

    if kind == "Point":
        return head + struct.pack(">dd", *val)
    if kind == "LineString":
        return head + coords(val)
    if kind == "Polygon":
        return head + struct.pack(">I", len(val)) + b"".join(coords(r) for r in val)
    if kind == "MultiPoint":
        parts = [("Point", tuple(p)) for p in np.asarray(val).reshape(-1, 2)]
    elif kind == "MultiLineString":
        parts = [("LineString", v) for v in val]
    elif kind == "MultiPolygon":
        parts = [("Polygon", v) for v in val]
    else:
        parts = val
    return head + struct.pack(">I", len(parts)) + b"".join(_encode_be(p) for p in parts)


_SQUARE = ring([(0, 0), (10, 0), (10, 10), (0, 10)])
_HOLE = ring([(4, 4), (6, 4), (6, 6), (4, 6)])
_KINDS = [
    ("Point", (3.5, -7.25)),
    ("LineString", np.array([(0.0, 1.0), (2.0, -3.0), (5.0, 4.0)])),
    ("Polygon", [ring([(1, -2), (5, 0), (3, 7)])]),
    ("Polygon", [_SQUARE, _HOLE]),  # multi-ring
    ("MultiPoint", np.array([(5.0, -1.0), (6.0, 7.0)])),
    ("MultiLineString", [np.array([(0.0, 0.0), (1.0, 1.0)]), np.array([(-4.0, 2.0), (3.0, 9.0)])]),
    ("MultiPolygon", [[_SQUARE], [ring([(20, 20), (30, 20), (25, 28)])]]),
    ("GeometryCollection", [("Point", (-9.0, 9.0)), ("LineString", np.array([(1.0, 2.0), (3.0, 4.0)]))]),
]
_EMPTY = [
    ("LineString", np.zeros((0, 2))),
    ("Polygon", []),
    ("Polygon", [np.zeros((0, 2))]),
    ("MultiPoint", np.zeros((0, 2))),
    ("GeometryCollection", []),
    ("Point", (float("nan"), float("nan"))),  # POINT EMPTY
    ("Polygon", [ring([(0, 0), (float("nan"), 1), (2, 2)])]),  # NaN on one axis
]


def _reference(vals) -> np.ndarray:
    """The per-row envelope the columnar kernel must reproduce."""
    return np.array(
        [[np.nan] * 4 if v is None else wkb.bbox(wkb.decode(v)) for v in vals],
        dtype="f8",
    ).reshape(-1, 4)


def _assert_bounds_match(arr):
    vals = arr.to_pylist()
    got = wkb.bounds(arr)
    assert got.shape == (len(vals), 4)
    assert np.array_equal(got, _reference(vals), equal_nan=True)
    want_codes = [
        -1 if v is None else wkb._CODES[wkb.decode(v)[0]] for v in vals
    ]
    assert wkb.type_codes(arr).tolist() == want_codes


def test_bounds_matches_bbox_every_kind_both_byte_orders():
    import pyarrow as pa

    geoms = _KINDS + _EMPTY
    vals = [wkb.encode(g) for g in geoms] + [_encode_be(g) for g in geoms]
    for g, le, be in zip(geoms, vals, vals[len(geoms):]):
        assert wkb.decode(le)[0] == wkb.decode(be)[0] == g[0]
    vals = [None, *vals[:5], None, *vals[5:], None]
    _assert_bounds_match(pa.array(vals, pa.binary()))


def test_bounds_sliced_large_binary_and_all_null():
    import pyarrow as pa

    vals = [wkb.encode(g) for g in _KINDS + _EMPTY] + [None]
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(vals * 3, typ)
        sliced = arr.slice(5, len(vals) + 3)
        assert sliced.offset == 5
        _assert_bounds_match(sliced)
        _assert_bounds_match(arr.slice(0, 0))
        _assert_bounds_match(pa.array([None, None], typ))
    with pytest.raises(TypeError):
        wkb.bounds(pa.array(["POINT (1 2)"]))


def test_bounds_seeded_mixed_points_and_polygons():
    """The lake layout: mostly 21-byte points, some single-ring convex
    polygons, nulls, in random order — every row equal to the per-row
    path, bit for bit."""
    import pyarrow as pa

    rng = np.random.default_rng(7)
    n = 3000
    x, y = rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)
    vals = wkb.encode_points(x, y)
    for i in np.flatnonzero(rng.random(n) < 0.2):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
        r = float(rng.uniform(0.001, 0.5))
        pts = np.column_stack([x[i] + r * np.cos(ang), y[i] + r * np.sin(ang)])
        vals[i] = wkb.encode(("Polygon", [np.vstack([pts, pts[:1]])]))
    for i in np.flatnonzero(rng.random(n) < 0.01):
        vals[i] = None
    _assert_bounds_match(pa.array(vals, pa.binary()))
