"""ST_* scalar surface (SURVEY.md §2.D rows D1–D10).

Split by execution tier, fastest first:

* pure-Column functions (``haversine_km``, ``mercator_x/y``, bbox
  conjuncts) — built-in pyspark.sql.functions only: JVM-side,
  whole-stage-codegen, usable in pushdown-able predicates. The
  reference computed these shapely-side per row
  (geoparquet/__init__.py:60≈ decodes everything eagerly first).
* Arrow-vectorized pandas UDFs over the numpy WKB codec
  (geoparquet_python_spark.geo.wkb) for anything that must touch
  coordinates of arbitrary geometries. One Python hop per Arrow batch,
  never per row.

``register_sql(spark)`` exposes every UDF to SQL-string users.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
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

from geoparquet_python_spark.geo import wkb

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


def planar_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    return F.sqrt(F.pow(x2 - x1, 2) + F.pow(y2 - y1, 2))


_WEB_MERCATOR_R = 6378137.0


def mercator_x(lon: Column) -> Column:
    """Web-Mercator easting (EPSG:3857) — closed-form ST_Transform (D10)."""
    return F.radians(lon) * F.lit(_WEB_MERCATOR_R)


def mercator_y(lat: Column) -> Column:
    return F.lit(_WEB_MERCATOR_R) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)
    )


def bbox_intersects(a: Column, b: Column) -> Column:
    """Plain conjuncts over two {xmin,ymin,xmax,ymax} structs — the
    spatial-pushdown prefilter (SURVEY.md §4.3): comparisons on struct
    fields reach the Parquet row-group stats."""
    return (
        (a["xmin"] <= b["xmax"])
        & (a["xmax"] >= b["xmin"])
        & (a["ymin"] <= b["ymax"])
        & (a["ymax"] >= b["ymin"])
    )


def bbox_contains_point(b: Column, x: Column, y: Column) -> Column:
    return (b["xmin"] <= x) & (x <= b["xmax"]) & (b["ymin"] <= y) & (y <= b["ymax"])


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
    exact per-geometry envelope refine for rows whose covering box
    over-approximates (multi-part geometries).

    window = (xmin, ymin, xmax, ymax)."""
    x0, y0, x1, y1 = window
    if bbox_col in df.columns:
        b = F.col(bbox_col)
        coarse = (
            (b["xmin"] <= x1)
            & (b["xmax"] >= x0)
            & (b["ymin"] <= y1)
            & (b["ymax"] >= y0)
        )
        df = df.where(coarse)  # pushdown-able: plain struct-field compares
        if not exact:
            return df
    env = st_envelope(F.col(geometry_col))
    fine = (
        (env["xmin"] <= x1)
        & (env["xmax"] >= x0)
        & (env["ymin"] <= y1)
        & (env["ymax"] >= y0)
    )
    return df.where(fine)


# ------------------------------------------------------------ pandas UDFs


@pandas_udf(BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    """ST_Point(x, y) -> WKB (D2); vectorized single-buffer encoder."""
    return pd.Series(wkb.encode_points(x.to_numpy("f8"), y.to_numpy("f8")))


@pandas_udf(DoubleType())
def st_x(g: pd.Series) -> pd.Series:
    xs, _ = wkb.decode_points(g)
    return pd.Series(xs)


@pandas_udf(DoubleType())
def st_y(g: pd.Series) -> pd.Series:
    _, ys = wkb.decode_points(g)
    return pd.Series(ys)


@pandas_udf(_BBOX_TYPE)
def st_envelope(g: pd.Series) -> pd.DataFrame:
    """Bounding box struct (D4) — also the GeoParquet-1.1 covering
    column. One columnar ``wkb.bounds`` call per Arrow batch."""
    return pd.DataFrame(wkb.bounds(pa.array(g, pa.binary())), columns=BBOX_FIELDS)


@pandas_udf(BooleanType())
def st_envelope_intersects(
    g: pd.Series, x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
) -> pd.Series:
    """ST_EnvelopeIntersects(geom, x0, y0, x1, y1): does the geometry's
    envelope overlap the window? The exact per-row refine behind the
    SQL-string pushdown rewrite (geo/sqlrewrite.py) — same predicate
    spatial_window_filter applies through the DataFrame API. Window
    bounds compare as doubles (SQL decimal literals included), like the
    covering-column conjuncts the rewrite puts beside it; a NULL
    geometry gives NULL."""
    b = wkb.bounds(pa.array(g, pa.binary()))
    wx0, wy0, wx1, wy1 = (s.to_numpy("f8") for s in (x0, y0, x1, y1))
    hit = (b[:, 0] <= wx1) & (b[:, 2] >= wx0) & (b[:, 1] <= wy1) & (b[:, 3] >= wy0)
    out = pd.Series(hit, dtype="object")
    out[g.isna().to_numpy()] = None
    return out


@pandas_udf(DoubleType())
def st_area(g: pd.Series) -> pd.Series:
    """Planar area. A 21-byte Point row is exactly 0.0 from its type code
    alone; every other non-null row decodes and takes ``wkb.area``."""
    arr = pa.array(g, pa.binary())
    point = (wkb.type_codes(arr) == wkb._POINT) & (
        pc.binary_length(arr).to_numpy(zero_copy_only=False) == 21
    )
    out = np.where(point, 0.0, np.nan)
    for i in np.flatnonzero(~point & arr.is_valid().to_numpy(zero_copy_only=False)):
        out[i] = wkb.area(wkb.decode(g.iat[i]))
    return pd.Series(out)


@pandas_udf(DoubleType())
def st_length(g: pd.Series) -> pd.Series:
    return pd.Series(
        [np.nan if v is None else wkb.length(wkb.decode(v)) for v in g], dtype="f8"
    )


@pandas_udf(BinaryType())
def st_centroid(g: pd.Series) -> pd.Series:
    def one(v):
        if v is None:
            return None
        return wkb.encode(("Point", wkb.centroid(wkb.decode(v))))

    return pd.Series([one(v) for v in g])


@pandas_udf(StringType())
def st_astext(g: pd.Series) -> pd.Series:
    return pd.Series([None if v is None else wkb.to_wkt(wkb.decode(v)) for v in g])


@pandas_udf(DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """Planar point-point distance on WKB columns (D7). General
    geometry-geometry minimum distance is out of reference scope
    (SURVEY.md §2.D)."""
    ax, ay = wkb.decode_points(a)
    bx, by = wkb.decode_points(b)
    return pd.Series(np.hypot(bx - ax, by - ay))


@pandas_udf(BooleanType())
def st_contains_point(poly: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """ST_Contains(polygon, point) via ray-cast (D8). Decodes each
    distinct polygon once per batch — the common shape is one query
    polygon broadcast against many points."""
    cache: dict[bytes, tuple] = {}
    xs = x.to_numpy("f8")
    ys = y.to_numpy("f8")
    out = np.zeros(len(poly), dtype=bool)
    for i, p in enumerate(poly):
        if p is None:
            continue
        key = bytes(p)
        geom = cache.get(key)
        if geom is None:
            geom = cache[key] = wkb.decode(key)
        out[i] = wkb.contains(geom, xs[i], ys[i])
    return pd.Series(out)


@pandas_udf(BinaryType())
def st_buffer(g: pd.Series, dist: pd.Series, segs: pd.Series) -> pd.Series:
    """Point buffer -> regular polygon approximation (D9; points only —
    the reference's shapely closure covers general buffer, flagged hard
    and lowest-priority in SURVEY.md §7.M2)."""

    def one(v, d, n):
        if v is None:
            return None
        kind, val = wkb.decode(v)
        if kind != "Point":
            raise ValueError("st_buffer implemented for points only")
        d = float(d)  # SQL literals may arrive as decimal.Decimal
        n = int(n)
        ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
        ring = np.column_stack(
            [val[0] + d * np.cos(ang), val[1] + d * np.sin(ang)]
        )
        ring = np.vstack([ring, ring[:1]])
        return wkb.encode(("Polygon", [ring]))

    return pd.Series([one(v, d, n) for v, d, n in zip(g, dist, segs)])


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


@pandas_udf(BinaryType())
def st_simplify(g: pd.Series, tol: pd.Series) -> pd.Series:
    """Douglas-Peucker simplification for LineString/Polygon rings (D9)."""

    def one(v, t):
        if v is None:
            return None
        kind, val = wkb.decode(v)
        if kind == "LineString":
            return wkb.encode((kind, _douglas_peucker(val, t)))
        if kind == "Polygon":
            return wkb.encode((kind, [_douglas_peucker(r, t) for r in val]))
        return v  # other kinds pass through unchanged

    return pd.Series([one(v, t) for v, t in zip(g, tol)])


@pandas_udf(IntegerType())
def st_num_geometries(g: pd.Series) -> pd.Series:
    """ST_NumGeometries: part count of a Multi*/GeometryCollection,
    1 for a single geometry (PostGIS semantics), None for NULL."""

    def one(v):
        if v is None:
            return None
        kind, val = wkb.decode(v)
        if kind in ("MultiPoint", "MultiLineString", "MultiPolygon",
                    "GeometryCollection"):
            return len(val)
        return 1

    return pd.Series([one(v) for v in g], dtype="object")


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


def register_sql(spark: SparkSession) -> None:
    """Expose the ST_* UDFs to spark.sql string queries (§2.G)."""
    for name, fn in _UDFS.items():
        spark.udf.register(name, fn)
