"""Well-Known-Binary codec in pure numpy/struct — no shapely on this box.

Reference parity: the reference round-trips geometry as WKB via shapely
(`geoparquet/__init__.py:30≈` encode ``geom.wkb`` per row, `:60≈` decode
``shapely.wkb.loads`` per row — both per-row Python loops). Here the
codec is a self-contained batch library: decode/encode whole pandas
Series of WKB bytes inside one pandas-UDF call, with a numpy
``frombuffer`` fast path for the all-points case (zero per-row Python in
the common layout). ``bounds`` and ``type_codes`` go one step further
and read a pyarrow binary array's offsets, validity and data buffers
directly, so envelopes and type codes of a whole Arrow batch cost a few
numpy gathers.

Supported: 2-D Point, LineString, Polygon (with holes), MultiPoint,
MultiLineString, MultiPolygon, GeometryCollection; both byte orders on
decode, little-endian on encode (the de-facto standard).

Internal geometry representation (no classes — cheap to build in UDFs):
    ("Point", (x, y))
    ("LineString", ndarray (n,2))
    ("Polygon", [ring ndarray (n,2), ...])        # ring 0 = shell
    ("MultiPoint", ndarray (n,2))
    ("MultiLineString", [ndarray (n,2), ...])
    ("MultiPolygon", [[ring, ...], ...])
    ("GeometryCollection", [geom, ...])
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

_POINT, _LINESTRING, _POLYGON = 1, 2, 3
_MULTIPOINT, _MULTILINESTRING, _MULTIPOLYGON = 4, 5, 6
_COLLECTION = 7

_NAMES = {
    _POINT: "Point",
    _LINESTRING: "LineString",
    _POLYGON: "Polygon",
    _MULTIPOINT: "MultiPoint",
    _MULTILINESTRING: "MultiLineString",
    _MULTIPOLYGON: "MultiPolygon",
    _COLLECTION: "GeometryCollection",
}
_CODES = {v: k for k, v in _NAMES.items()}

# ---------------------------------------------------------------- encode


def _enc_coords(arr: np.ndarray) -> bytes:
    a = np.ascontiguousarray(np.asarray(arr, dtype="<f8").reshape(-1, 2))
    return struct.pack("<I", a.shape[0]) + a.tobytes()


def encode(geom: tuple) -> bytes:
    """Internal representation -> little-endian WKB bytes."""
    kind, val = geom
    code = _CODES[kind]
    head = b"\x01" + struct.pack("<I", code)
    if code == _POINT:
        return head + struct.pack("<dd", float(val[0]), float(val[1]))
    if code == _LINESTRING:
        return head + _enc_coords(val)
    if code == _POLYGON:
        body = struct.pack("<I", len(val)) + b"".join(_enc_coords(r) for r in val)
        return head + body
    if code == _MULTIPOINT:
        pts = np.asarray(val, dtype="<f8").reshape(-1, 2)
        body = struct.pack("<I", pts.shape[0]) + b"".join(
            encode(("Point", (p[0], p[1]))) for p in pts
        )
        return head + body
    if code == _MULTILINESTRING:
        body = struct.pack("<I", len(val)) + b"".join(
            encode(("LineString", ls)) for ls in val
        )
        return head + body
    if code == _MULTIPOLYGON:
        body = struct.pack("<I", len(val)) + b"".join(
            encode(("Polygon", rings)) for rings in val
        )
        return head + body
    if code == _COLLECTION:
        body = struct.pack("<I", len(val)) + b"".join(encode(g) for g in val)
        return head + body
    raise ValueError(f"unsupported geometry kind {kind}")


# ---------------------------------------------------------------- decode


def _decode_at(buf: bytes, off: int) -> tuple[tuple, int]:
    bo = "<" if buf[off] == 1 else ">"
    (code,) = struct.unpack_from(bo + "I", buf, off + 1)
    code &= 0xFF  # tolerate EWKB/ISO flag bits (SRID bit not supported)
    off += 5
    if code == _POINT:
        x, y = struct.unpack_from(bo + "dd", buf, off)
        return ("Point", (x, y)), off + 16
    if code in (_LINESTRING, _MULTIPOINT):
        (n,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        if code == _LINESTRING:
            a = np.frombuffer(buf, dtype=bo + "f8", count=2 * n, offset=off)
            return ("LineString", a.reshape(n, 2).astype("f8")), off + 16 * n
        pts = np.empty((n, 2), dtype="f8")
        for i in range(n):
            g, off = _decode_at(buf, off)
            pts[i] = g[1]
        return ("MultiPoint", pts), off
    if code == _POLYGON:
        (nr,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(bo + "I", buf, off)
            off += 4
            a = np.frombuffer(buf, dtype=bo + "f8", count=2 * n, offset=off)
            rings.append(a.reshape(n, 2).astype("f8"))
            off += 16 * n
        return ("Polygon", rings), off
    if code in (_MULTILINESTRING, _MULTIPOLYGON, _COLLECTION):
        (n,) = struct.unpack_from(bo + "I", buf, off)
        off += 4
        parts = []
        for _ in range(n):
            g, off = _decode_at(buf, off)
            parts.append(g)
        if code == _MULTILINESTRING:
            return ("MultiLineString", [g[1] for g in parts]), off
        if code == _MULTIPOLYGON:
            return ("MultiPolygon", [g[1] for g in parts]), off
        return ("GeometryCollection", parts), off
    raise ValueError(f"unsupported WKB geometry code {code}")


def decode(buf: bytes) -> tuple:
    """WKB bytes -> internal representation."""
    geom, _ = _decode_at(bytes(buf), 0)
    return geom


# ------------------------------------------------- vectorized batch paths


def encode_points(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    """Vectorized Point encoder: builds all 21-byte records in one numpy
    buffer, then slices — no per-row struct packing."""
    n = len(x)
    rec = np.zeros(n, dtype=[("bo", "u1"), ("code", "<u4"), ("xy", "<f8", 2)])
    rec["bo"] = 1
    rec["code"] = _POINT
    rec["xy"][:, 0] = x
    rec["xy"][:, 1] = y
    raw = rec.tobytes()
    return [raw[i * 21 : (i + 1) * 21] for i in range(n)]


def decode_points(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized Point decoder. Fast path: every value is a 21-byte LE
    point -> one frombuffer over the concatenation. Falls back to the
    general decoder (taking the first point / centroid-of-nothing rule:
    non-points raise)."""
    vals = list(bufs)
    if vals and all(
        v is not None and len(v) == 21 and v[0] == 1 for v in vals
    ):
        raw = b"".join(vals)
        rec = np.frombuffer(
            raw, dtype=[("bo", "u1"), ("code", "<u4"), ("xy", "<f8", 2)]
        )
        if (rec["code"] == _POINT).all():
            return rec["xy"][:, 0].copy(), rec["xy"][:, 1].copy()
    xs = np.full(len(vals), np.nan)
    ys = np.full(len(vals), np.nan)
    for i, v in enumerate(vals):
        if v is None:
            continue
        kind, val = decode(v)
        if kind != "Point":
            raise ValueError(f"expected Point, got {kind}")
        xs[i], ys[i] = val
    return xs, ys


# ---------------------------------------------- columnar Arrow-buffer paths


def _arrow_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """numpy views of a pyarrow binary array's buffers: (data bytes,
    per-row start, per-row length, per-row validity). Honors the array
    offset, so sliced arrays work; nothing is copied but the offsets."""
    if not (pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type)):
        raise TypeError(f"expected a binary Arrow array, got {arr.type}")
    n = len(arr)
    if n == 0:
        empty = np.zeros(0, dtype=np.int64)
        return np.zeros(0, dtype=np.uint8), empty, empty, np.zeros(0, dtype=bool)
    validity, offsets_buf, data_buf = arr.buffers()
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(offsets_buf, dtype=off_dtype)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    if validity is None:
        valid = np.ones(n, dtype=bool)
    else:
        valid = np.unpackbits(
            np.frombuffer(validity, dtype=np.uint8), bitorder="little"
        )[arr.offset : arr.offset + n].astype(bool)
    return data, offsets[:-1], np.diff(offsets), valid


_POLY_COORDS = 13  # byte offset of a single-ring WKB Polygon's first coordinate


def _records(data: np.ndarray, starts: np.ndarray, dtype) -> np.ndarray:
    """Gather one ``dtype`` record at each byte position of ``data``.
    Indexes an overlapping view that has a record at every byte offset,
    so each row costs one fixed-size copy, not one index per byte."""
    dt = np.dtype(dtype)
    view = np.ndarray(
        shape=(max(data.size - dt.itemsize + 1, 0),),
        dtype=f"V{dt.itemsize}",
        buffer=data,
        strides=(1,),
    )
    return view[starts].view(dt)


def type_codes(arr: pa.Array) -> np.ndarray:
    """Per-row raw WKB geometry-type code (either byte order) read from
    the Arrow buffers; -1 for null rows and rows shorter than a header."""
    data, starts, lens, valid = _arrow_views(arr)
    codes = np.full(len(starts), -1, dtype=np.int64)
    ok = np.flatnonzero(valid & (lens >= 5))
    if ok.size:
        raw = _records(data, starts[ok] + 1, "V4")
        codes[ok] = np.where(data[starts[ok]] == 1, raw.view("<u4"), raw.view(">u4"))
    return codes


def bounds(arr: pa.Array) -> np.ndarray:
    """(n, 4) float64 envelopes ``(xmin, ymin, xmax, ymax)`` of a binary
    (or large_binary) Arrow array of WKB, read straight from its buffers.

    Little-endian 21-byte Points take one gather; little-endian
    single-ring Polygons take a gather plus ``minimum/maximum.reduceat``
    over their coordinates. Every other row goes through
    ``bbox(decode(v))``, and the fast paths reproduce it exactly: NaN
    for null rows, ``(inf, inf, -inf, -inf)`` for empty geometries, and
    an axis whose coordinates hold a NaN gets that empty bound too.
    The result is a transposed view of a (4, n) array, so each bound
    column is contiguous."""
    data, starts, lens, valid = _arrow_views(arr)
    cols = np.full((4, len(starts)), np.nan)
    fast = np.zeros(len(starts), dtype=bool)
    cand = np.flatnonzero(valid & (lens >= _POLY_COORDS))
    if cand.size:
        s, clen = starts[cand], lens[cand]
        le = data[s] == 1
        code = _records(data, s + 1, "<u4")

        pt = cand[le & (code == _POINT) & (clen == 21)]
        if pt.size:
            xy = _records(data, starts[pt] + 5, ("<f8", 2))
            _put_bounds(cols, pt, xy, xy)
            fast[pt] = True

        pg = np.flatnonzero(le & (code == _POLYGON))
        rings = _records(data, s[pg] + 5, "<u4")
        k = _records(data, s[pg] + 9, "<u4").astype(np.int64)  # ring 0 points
        keep = (rings == 1) & (k >= 1) & (clen[pg] == _POLY_COORDS + 16 * k)
        pg, k = cand[pg[keep]], k[keep]
        if pg.size:
            seg = np.cumsum(k) - k  # first coordinate of each polygon
            pos = np.repeat(starts[pg] + _POLY_COORDS - 16 * seg, k)
            pos += 16 * np.arange(k.sum())
            xy = _records(data, pos, ("<f8", 2))
            with np.errstate(invalid="ignore"):
                lo = np.minimum.reduceat(xy, seg, axis=0)
                hi = np.maximum.reduceat(xy, seg, axis=0)
            _put_bounds(cols, pg, lo, hi)
            fast[pg] = True

    for i in np.flatnonzero(valid & ~fast):
        at = starts[i]
        cols[:, i] = bbox(decode(data[at : at + lens[i]].tobytes()))
    return cols.T


def _put_bounds(cols: np.ndarray, rows: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> None:
    """Store (m, 2) per-row minima and maxima into the (4, n) columns.
    A NaN extreme becomes the empty bound, as in ``bbox``: numpy's min
    propagates the NaN and Python's ``min(inf, nan)`` keeps ``inf``."""
    for c in (0, 1):
        cols[c, rows] = np.fmin(lo[:, c], np.inf)
        cols[c + 2, rows] = np.fmax(hi[:, c], -np.inf)


# ------------------------------------------------------ geometry measures


def _coords_iter(geom: tuple):
    kind, val = geom
    if kind == "Point":
        yield np.asarray([val], dtype="f8")
    elif kind in ("LineString", "MultiPoint"):
        yield np.asarray(val, dtype="f8")
    elif kind == "Polygon":
        for r in val:
            yield np.asarray(r, dtype="f8")
    elif kind == "MultiLineString":
        for ls in val:
            yield np.asarray(ls, dtype="f8")
    elif kind == "MultiPolygon":
        for rings in val:
            for r in rings:
                yield np.asarray(r, dtype="f8")
    elif kind == "GeometryCollection":
        for g in val:
            yield from _coords_iter(g)


def bbox(geom: tuple) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) over every coordinate."""
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for a in _coords_iter(geom):
        if a.size == 0:
            continue
        xmin = min(xmin, a[:, 0].min())
        xmax = max(xmax, a[:, 0].max())
        ymin = min(ymin, a[:, 1].min())
        ymax = max(ymax, a[:, 1].max())
    return float(xmin), float(ymin), float(xmax), float(ymax)


def _ring_area2(r: np.ndarray) -> float:
    """Twice the signed shoelace area of a closed ring."""
    x, y = r[:, 0], r[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def area(geom: tuple) -> float:
    """Planar area: |shell| - |holes| per polygon, summed over multis."""
    kind, val = geom
    if kind == "Polygon":
        if not val:
            return 0.0
        a = abs(_ring_area2(val[0]))
        a -= sum(abs(_ring_area2(r)) for r in val[1:])
        return a / 2.0
    if kind == "MultiPolygon":
        return sum(area(("Polygon", rings)) for rings in val)
    if kind == "GeometryCollection":
        return sum(area(g) for g in val)
    return 0.0


def _path_length(a: np.ndarray) -> float:
    d = np.diff(a, axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def length(geom: tuple) -> float:
    """Planar length: linestring path length; polygon -> ring perimeters."""
    kind, val = geom
    if kind == "LineString":
        return _path_length(np.asarray(val, dtype="f8"))
    if kind == "MultiLineString":
        return sum(_path_length(np.asarray(ls, dtype="f8")) for ls in val)
    if kind == "Polygon":
        return sum(_path_length(np.asarray(r, dtype="f8")) for r in val)
    if kind == "MultiPolygon":
        return sum(length(("Polygon", rings)) for rings in val)
    if kind == "GeometryCollection":
        return sum(length(g) for g in val)
    return 0.0


def centroid(geom: tuple) -> tuple[float, float]:
    """Centroid by dimensionality rule (area-weighted for polygons,
    length-weighted for lines, mean for points)."""
    kind, val = geom
    if kind == "Point":
        return float(val[0]), float(val[1])
    if kind == "MultiPoint":
        a = np.asarray(val, dtype="f8")
        return float(a[:, 0].mean()), float(a[:, 1].mean())
    if kind in ("LineString", "MultiLineString"):
        parts = [np.asarray(val, dtype="f8")] if kind == "LineString" else [
            np.asarray(v, dtype="f8") for v in val
        ]
        tot = cx = cy = 0.0
        for a in parts:
            d = np.diff(a, axis=0)
            seg = np.sqrt((d * d).sum(axis=1))
            mid = (a[:-1] + a[1:]) / 2.0
            tot += seg.sum()
            cx += float((mid[:, 0] * seg).sum())
            cy += float((mid[:, 1] * seg).sum())
        if tot == 0.0:
            a = np.vstack(parts)
            return float(a[:, 0].mean()), float(a[:, 1].mean())
        return cx / tot, cy / tot
    if kind in ("Polygon", "MultiPolygon"):
        polys = [val] if kind == "Polygon" else val
        tot = cx = cy = 0.0
        for rings in polys:
            for i, r in enumerate(rings):
                a2 = _ring_area2(r)
                if a2 == 0.0:
                    continue
                w = abs(a2) * (1.0 if i == 0 else -1.0)  # holes subtract
                x, y = r[:, 0], r[:, 1]
                xn, yn = np.roll(x, -1), np.roll(y, -1)
                cross = x * yn - xn * y
                cx += float(((x + xn) * cross).sum()) / (3.0 * a2) * w
                cy += float(((y + yn) * cross).sum()) / (3.0 * a2) * w
                tot += w
        if tot == 0.0:
            return centroid(("MultiPoint", np.vstack([r for rings in polys for r in rings])))
        return cx / tot, cy / tot
    if kind == "GeometryCollection":
        pts = np.asarray([centroid(g) for g in val], dtype="f8")
        return float(pts[:, 0].mean()), float(pts[:, 1].mean())
    raise ValueError(f"unsupported geometry kind {kind}")


def point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Ray-cast (crossing number) point-in-ring test; boundary-inclusive
    behavior is not guaranteed (standard ray-cast semantics)."""
    x, y = ring[:, 0], ring[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cond = (y > py) != (yn > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x + (py - y) * (xn - x) / (yn - y)
    return bool((cond & (px < xint)).sum() % 2)


def contains(poly: tuple, px: float, py: float) -> bool:
    """Point-in-polygon: inside shell, outside every hole."""
    kind, val = poly
    if kind == "Polygon":
        if not val or not point_in_ring(px, py, val[0]):
            return False
        return not any(point_in_ring(px, py, r) for r in val[1:])
    if kind == "MultiPolygon":
        return any(contains(("Polygon", rings), px, py) for rings in val)
    raise ValueError(f"contains() needs a polygonal geometry, got {kind}")


def to_wkt(geom: tuple, digits: int = 9) -> str:
    """Minimal WKT writer (round-trip fidelity is WKB's job)."""
    kind, val = geom
    fmt = f"%.{digits}g"

    def pt(p):
        return f"{fmt % p[0]} {fmt % p[1]}"

    def seq(a):
        return "(" + ", ".join(pt(p) for p in np.asarray(a).reshape(-1, 2)) + ")"

    if kind == "Point":
        return f"POINT ({pt(val)})"
    if kind == "LineString":
        return f"LINESTRING {seq(val)}"
    if kind == "Polygon":
        return "POLYGON (" + ", ".join(seq(r) for r in val) + ")"
    if kind == "MultiPoint":
        return "MULTIPOINT " + seq(val)
    if kind == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(seq(v) for v in val) + ")"
    if kind == "MultiPolygon":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(seq(r) for r in rings) + ")" for rings in val)
            + ")"
        )
    if kind == "GeometryCollection":
        return "GEOMETRYCOLLECTION (" + ", ".join(to_wkt(g, digits) for g in val) + ")"
    raise ValueError(f"unsupported geometry kind {kind}")
