"""ST_* scalar surface (SURVEY.md §2.D rows D1–D10).

Split by execution tier, fastest first:

* pure-Column functions (``haversine_km``, ``mercator_x/y``, bbox
  conjuncts) — built-in pyspark.sql.functions only: JVM-side,
  whole-stage-codegen, usable in pushdown-able predicates. The
  reference computed these shapely-side per row
  (geoparquet/__init__.py:60≈ decodes everything eagerly first).
* Arrow UDFs (``arrow_udf``: ``pa.Array`` in, ``pa.Array`` out) over
  the numpy WKB codec (geoparquet_python_spark.geo.wkb) for anything
  that must touch coordinates of arbitrary geometries. One Python hop
  per Arrow batch, never per row; the columnar kernels read the
  batch's WKB buffers in place.

``register_sql(spark)`` exposes every UDF to SQL-string users, once
per session.
"""

from __future__ import annotations

import math
import weakref

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

BBOX_FIELDS = ["xmin", "ymin", "xmax", "ymax"]
_BBOX_TYPE = StructType([StructField(n, DoubleType()) for n in BBOX_FIELDS])

from geoparquet_python_spark.geo import covering, wkb

# ------------------------------------------------------------- built-ins

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km, entirely in built-ins (D7): stays in
    whole-stage codegen and is DuckDB-oracle-expressible in plain SQL."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.pow(F.sin(dlat), 2) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.pow(F.sin(dlon), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


_WEB_MERCATOR_R = 6378137.0


def mercator_x(lon: Column) -> Column:
    """Web-Mercator easting (EPSG:3857) — closed-form ST_Transform (D10)."""
    return F.radians(lon) * F.lit(_WEB_MERCATOR_R)


def mercator_y(lat: Column) -> Column:
    return F.lit(_WEB_MERCATOR_R) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)
    )


def spatial_window_filter(
    df,
    window: tuple[float, float, float, float],
    geometry_col: str = "geometry",
    bbox_col: str = "bbox",
    exact: bool = True,
):
    """The §4.3 spatial-pushdown rewrite, done in the API layer (no
    Catalyst rule needed): ``ST_Intersects(geom, window)`` becomes plain
    bbox-field comparisons — which Spark pushes to Parquet row-group
    stats when ``bbox_col`` is a materialized covering column — plus an
    exact per-geometry envelope refine (an Arrow-UDF stage) for rows
    whose covering box over-approximates the envelope.

    A lake written by ``write_geoparquet`` with a computed covering
    carries the exact-covering footer key, and ``read_geoparquet`` then
    tags ``geometry_col`` and ``bbox_col`` with one per-read token. While
    both columns still carry it and the frame's plan still reads them
    from one scan of the unchanged vouched files (``covering.is_exact``),
    the covering holds each row's exact envelope, the conjuncts already
    are the refine, and the refine is not planned: the query keeps no
    UDF stage of its own. A column replaced after the read, a join or
    union, or a file rewritten since the read keeps the refine.

    window = (xmin, ymin, xmax, ymax)."""
    x0, y0, x1, y1 = window

    def overlaps(b: Column) -> Column:  # box struct b meets the window
        return (b["xmin"] <= x1) & (b["xmax"] >= x0) & (b["ymin"] <= y1) & (b["ymax"] >= y0)

    if bbox_col in df.columns:
        skip_refine = not exact or covering.is_exact(df, geometry_col, bbox_col)
        # pushdown-able: plain struct-field compares
        df = df.where(overlaps(F.col(bbox_col)))
        if skip_refine:
            return df
    return df.where(overlaps(st_envelope(F.col(geometry_col))))


# ------------------------------------------------------------- Arrow UDFs


def _per_row(fn, out_type: pa.DataType, g: pa.Array, *args: pa.Array) -> pa.Array:
    """``fn(wkb_bytes, *row_args)`` for each row whose geometry is not
    NULL, NULL for the others; a NaN double result is NULL too."""
    cols = [a.to_pylist() for a in (g, *args)]
    return pa.array(
        [None if r[0] is None else fn(*r) for r in zip(*cols)],
        out_type,
        from_pandas=True,
    )


@arrow_udf(BinaryType())
def st_point(x: pa.Array, y: pa.Array) -> pa.Array:
    """ST_Point(x, y) -> WKB (D2); vectorized single-buffer encoder."""
    return pa.array(
        wkb.encode_points(np.asarray(x, "f8"), np.asarray(y, "f8")), pa.binary()
    )


@arrow_udf(DoubleType())
def st_x(g: pa.Array) -> pa.Array:
    xs, _ = wkb.decode_points(g.to_pylist())
    return pa.array(xs, from_pandas=True)


@arrow_udf(DoubleType())
def st_y(g: pa.Array) -> pa.Array:
    _, ys = wkb.decode_points(g.to_pylist())
    return pa.array(ys, from_pandas=True)


def envelope(g: pa.Array) -> pa.Array:
    """Bounding-box struct of each WKB row, from one columnar
    ``wkb.bounds`` call: the ``st_envelope`` body (D4) and the covering
    column ``write_geoparquet`` computes in its own pass. A NULL
    geometry gives a struct of NULL fields."""
    b = wkb.bounds(g)
    return pa.StructArray.from_arrays(
        [pa.array(b[:, i], pa.float64(), from_pandas=True) for i in range(4)],
        names=BBOX_FIELDS,
    )


st_envelope = arrow_udf(envelope, _BBOX_TYPE)


@arrow_udf(BooleanType())
def st_envelope_intersects(
    g: pa.Array, x0: pa.Array, y0: pa.Array, x1: pa.Array, y1: pa.Array
) -> pa.Array:
    """ST_EnvelopeIntersects(geom, x0, y0, x1, y1): does the geometry's
    envelope overlap the window? The exact per-row refine behind the
    SQL-string pushdown rewrite (geo/sqlrewrite.py) — same predicate
    spatial_window_filter applies through the DataFrame API. Window
    bounds compare as doubles (SQL decimal literals included), like the
    covering-column conjuncts the rewrite puts beside it; a NULL
    geometry gives NULL."""
    b = wkb.bounds(g)
    wx0, wy0, wx1, wy1 = (np.asarray(a, "f8") for a in (x0, y0, x1, y1))
    hit = (b[:, 0] <= wx1) & (b[:, 2] >= wx0) & (b[:, 1] <= wy1) & (b[:, 3] >= wy0)
    return pa.array(hit, mask=g.is_null().to_numpy(zero_copy_only=False))


@arrow_udf(DoubleType())
def st_area(g: pa.Array) -> pa.Array:
    """Planar area. A 21-byte Point row is exactly 0.0 from its type code
    alone; every other non-null row decodes and takes ``wkb.area``."""
    _, _, lens, valid = wkb._arrow_views(g)
    point = (wkb.type_codes(g) == wkb._POINT) & (lens == 21)
    out = np.where(point, 0.0, np.nan)
    for i in np.flatnonzero(~point & valid):
        out[i] = wkb.area(wkb.decode(g[i].as_py()))
    return pa.array(out, from_pandas=True)


@arrow_udf(DoubleType())
def st_length(g: pa.Array) -> pa.Array:
    return _per_row(lambda v: wkb.length(wkb.decode(v)), pa.float64(), g)


@arrow_udf(BinaryType())
def st_centroid(g: pa.Array) -> pa.Array:
    return _per_row(
        lambda v: wkb.encode(("Point", wkb.centroid(wkb.decode(v)))), pa.binary(), g
    )


@arrow_udf(StringType())
def st_astext(g: pa.Array) -> pa.Array:
    return _per_row(lambda v: wkb.to_wkt(wkb.decode(v)), pa.string(), g)


@arrow_udf(DoubleType())
def st_distance(a: pa.Array, b: pa.Array) -> pa.Array:
    """Planar point-point distance on WKB columns (D7). General
    geometry-geometry minimum distance is out of reference scope
    (SURVEY.md §2.D)."""
    ax, ay = wkb.decode_points(a.to_pylist())
    bx, by = wkb.decode_points(b.to_pylist())
    return pa.array(np.hypot(bx - ax, by - ay), from_pandas=True)


@arrow_udf(BooleanType())
def st_contains_point(poly: pa.Array, x: pa.Array, y: pa.Array) -> pa.Array:
    """ST_Contains(polygon, point) via ray-cast (D8); false for a NULL
    polygon. Decodes each distinct polygon once per batch — the common
    shape is one query polygon broadcast against many points."""
    cache: dict[bytes, tuple] = {}
    xs = np.asarray(x, "f8")
    ys = np.asarray(y, "f8")
    out = np.zeros(len(poly), dtype=bool)
    for i, p in enumerate(poly.to_pylist()):
        if p is None:
            continue
        geom = cache.get(p)
        if geom is None:
            geom = cache[p] = wkb.decode(p)
        out[i] = wkb.contains(geom, xs[i], ys[i])
    return pa.array(out)


def _buffer(v: bytes, d, n) -> bytes:
    kind, val = wkb.decode(v)
    if kind != "Point":
        raise ValueError("st_buffer implemented for points only")
    d = float(d)  # SQL literals may arrive as decimal.Decimal
    n = int(n)
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    ring = np.column_stack([val[0] + d * np.cos(ang), val[1] + d * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    return wkb.encode(("Polygon", [ring]))


@arrow_udf(BinaryType())
def st_buffer(g: pa.Array, dist: pa.Array, segs: pa.Array) -> pa.Array:
    """Point buffer -> regular polygon approximation (D9; points only —
    the reference's shapely closure covers general buffer, flagged hard
    and lowest-priority in SURVEY.md §7.M2)."""
    return _per_row(_buffer, pa.binary(), g, dist, segs)


def _douglas_peucker(a: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker on an (n,2) path."""
    n = len(a)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = a[j] - a[i]
        L = np.hypot(*seg)
        mid = a[i + 1 : j]
        if L == 0.0:
            d = np.hypot(mid[:, 0] - a[i, 0], mid[:, 1] - a[i, 1])
        else:
            d = np.abs(
                (mid[:, 0] - a[i, 0]) * seg[1] - (mid[:, 1] - a[i, 1]) * seg[0]
            ) / L
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return a[keep]


def _simplify(v: bytes, tol) -> bytes:
    kind, val = wkb.decode(v)
    if kind == "LineString":
        return wkb.encode((kind, _douglas_peucker(val, tol)))
    if kind == "Polygon":
        return wkb.encode((kind, [_douglas_peucker(r, tol) for r in val]))
    return v  # other kinds pass through unchanged


@arrow_udf(BinaryType())
def st_simplify(g: pa.Array, tol: pa.Array) -> pa.Array:
    """Douglas-Peucker simplification for LineString/Polygon rings (D9)."""
    return _per_row(_simplify, pa.binary(), g, tol)


def _num_geometries(v: bytes) -> int:
    kind, val = wkb.decode(v)
    if kind in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"):
        return len(val)
    return 1


@arrow_udf(IntegerType())
def st_num_geometries(g: pa.Array) -> pa.Array:
    """ST_NumGeometries: part count of a Multi*/GeometryCollection,
    1 for a single geometry (PostGIS semantics), None for NULL."""
    return _per_row(_num_geometries, pa.int32(), g)


_UDFS = {
    "ST_Point": st_point,
    "ST_X": st_x,
    "ST_Y": st_y,
    "ST_Envelope": st_envelope,
    "ST_Area": st_area,
    "ST_Length": st_length,
    "ST_Centroid": st_centroid,
    "ST_AsText": st_astext,
    "ST_Distance": st_distance,
    "ST_ContainsPoint": st_contains_point,
    "ST_Buffer": st_buffer,
    "ST_Simplify": st_simplify,
    "ST_EnvelopeIntersects": st_envelope_intersects,
    "ST_NumGeometries": st_num_geometries,
}


_REGISTERED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def register_sql(spark: SparkSession) -> None:
    """Expose the ST_* UDFs to spark.sql string queries (§2.G), once per
    session: a session counts as done only after every registration
    returned, so one that failed part-way registers again."""
    if spark in _REGISTERED:
        return
    for name, fn in _UDFS.items():
        spark.udf.register(name, fn)
    _REGISTERED.add(spark)
