"""The ST_* UDF layer (geo/functions.py) as a whole: every function
through the DataFrame API and through ``spark.sql`` against per-row
``wkb`` truth on one seeded mixed frame, registration once per session,
and one UDF style."""

from __future__ import annotations

import ast
import inspect
import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from geoparquet_python_spark.geo import functions as gf
from geoparquet_python_spark.geo import wkb
from test_geo_wkb import _encode_be

_NAN = float("nan")


def _ring(rng, cx: float, cy: float) -> np.ndarray:
    """A closed convex ring of 3..8 points around (cx, cy)."""
    k = int(rng.integers(3, 9))
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
    r = float(rng.uniform(0.5, 4.0))
    pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([pts, pts[:1]])


def _path(rng, k: int) -> np.ndarray:
    return np.cumsum(rng.normal(0.0, 1.5, (k, 2)), axis=0) + rng.uniform(-20, 20, 2)


def _geom(rng, kind: str) -> tuple:
    """A random geometry of one of the seven WKB kinds."""
    c = rng.uniform(-20, 20, 2)
    if kind == "Point":
        return ("Point", (float(c[0]), float(c[1])))
    if kind == "LineString":
        return ("LineString", _path(rng, int(rng.integers(2, 12))))
    if kind == "Polygon":
        shell = _ring(rng, *c)
        if rng.random() < 0.5:
            return ("Polygon", [shell])
        return ("Polygon", [shell, _ring(rng, *c) * 0.1 + c * 0.9])  # with a hole
    if kind == "MultiPoint":
        return ("MultiPoint", rng.uniform(-20, 20, (int(rng.integers(1, 5)), 2)))
    if kind == "MultiLineString":
        return ("MultiLineString", [_path(rng, 4), _path(rng, 7)])
    if kind == "MultiPolygon":
        return ("MultiPolygon", [[_ring(rng, *c)], [_ring(rng, *(c + 9.0))]])
    return ("GeometryCollection", [_geom(rng, "Point"), _geom(rng, "LineString")])


_KINDS = ["Point", "LineString", "Polygon", "MultiPoint", "MultiLineString",
          "MultiPolygon", "GeometryCollection"]


def _enc(rng, geom: tuple) -> bytes:
    """Little- or big-endian WKB, at random."""
    return wkb.encode(geom) if rng.random() < 0.5 else _encode_be(geom)


def _frame_rows(seed: int = 2024) -> list[dict]:
    """Rows of the mixed frame. ``g``: every kind in both byte orders,
    NULL, EMPTY and NaN-coordinate geometries. ``p``/``q``: points in
    both byte orders, NULL and NaN coordinates. ``pl``: little-endian
    points only, never NULL (the all-points fast path). ``poly``:
    polygonal or NULL, sometimes one shared polygon. Plain columns:
    ``x``/``y`` (with NULL and NaN), ``d``/``n`` (buffer), ``t``
    (simplify tolerance)."""
    rng = np.random.default_rng(seed)
    g = [_enc(rng, _geom(rng, k)) for k in _KINDS for _ in range(4)]
    g += [wkb.encode(_geom(rng, k)) for k in _KINDS]
    g += [_encode_be(_geom(rng, k)) for k in _KINDS]
    empty = ("MultiPoint", np.zeros((0, 2)))
    nan_poly = ("Polygon", [np.array([(0.0, 0.0), (_NAN, 1.0), (2.0, 2.0), (0.0, 0.0)])])
    g += [None, None, wkb.encode(empty), _encode_be(empty),
          wkb.encode(("Point", (_NAN, _NAN))), _encode_be(("Point", (_NAN, 2.0))),
          wkb.encode(nan_poly)]
    order = rng.permutation(len(g))
    g = [g[i] for i in order]
    n = len(g)

    def point(i: int, le_only: bool = False):
        u = rng.random()
        if not le_only and u < 0.08:
            return None
        if u < 0.16:
            xy = (_NAN, float(rng.uniform(-5, 5)))
        elif u < 0.2:
            xy = (_NAN, _NAN)
        else:
            xy = tuple(float(v) for v in rng.uniform(-30, 30, 2))
        if le_only:
            return wkb.encode(("Point", xy))
        return _enc(rng, ("Point", xy))

    shared = _geom(rng, "Polygon")
    polys = []
    for i in range(n):
        u = rng.random()
        if u < 0.1:
            polys.append(None)
        elif u < 0.4:
            polys.append(shared)
        elif u < 0.45:
            polys.append(("Polygon", []))
        else:
            polys.append(_geom(rng, "MultiPolygon" if u > 0.8 else "Polygon"))
    rows = []
    for i in range(n):
        x, y = (float(v) for v in rng.uniform(-25, 25, 2))
        if polys[i] is not None and polys[i][1] and rng.random() < 0.5:
            x, y = wkb.centroid(polys[i])  # often inside
        u = rng.random()
        if u < 0.08:
            x = None
        elif u < 0.14:
            y = _NAN
        rows.append({
            "i": i, "g": g[i], "p": point(i), "q": point(i),
            "pl": point(i, le_only=True), "x": x, "y": y,
            "poly": None if polys[i] is None else _enc(rng, polys[i]),
            "d": float(rng.uniform(0.1, 3.0)), "n": int(rng.integers(3, 17)),
            "t": float(rng.choice([0.0, 0.3, 2.5])),
        })
    return rows


_SCHEMA = StructType([
    StructField("i", IntegerType()),
    *(StructField(c, BinaryType()) for c in ("g", "p", "q", "pl", "poly")),
    StructField("x", DoubleType()), StructField("y", DoubleType()),
    StructField("d", DoubleType()), StructField("n", IntegerType()),
    StructField("t", DoubleType()),
])

_WIN = (-10.5, -7.5, 12.5, 9.0)


def _num(v):
    """A double result as Spark returns it from these UDFs: NaN is NULL."""
    return None if v is None or math.isnan(v) else float(v)


def _buffer(v: bytes, d: float, n: int) -> bytes:
    cx, cy = wkb.decode(v)[1]
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    ring = np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])
    return wkb.encode(("Polygon", [np.vstack([ring, ring[:1]])]))


def _simplify(v: bytes, t: float) -> bytes:
    kind, val = wkb.decode(v)
    if kind == "LineString":
        return wkb.encode((kind, gf._douglas_peucker(val, t)))
    if kind == "Polygon":
        return wkb.encode((kind, [gf._douglas_peucker(r, t) for r in val]))
    return v


def _overlaps(v: bytes, win) -> bool:
    x0, y0, x1, y1 = wkb.bbox(wkb.decode(v))
    return x0 <= win[2] and x1 >= win[0] and y0 <= win[3] and y1 >= win[1]


def _parts(v: bytes) -> int:
    kind, val = wkb.decode(v)
    return len(val) if kind.startswith(("Multi", "Geometry")) else 1


def _on(col: str, fn):
    """Per-row truth of a function of one geometry column: NULL in, NULL out."""
    return lambda r: None if r[col] is None else fn(r[col])


def _point_xy(v, axis):
    return None if v is None else _num(wkb.decode(v)[1][axis])


def _distance(r):
    if r["p"] is None or r["q"] is None:
        return None
    (ax, ay), (bx, by) = wkb.decode(r["p"])[1], wkb.decode(r["q"])[1]
    return _num(np.hypot(bx - ax, by - ay))


def _contains(r):
    if r["poly"] is None:
        return False
    x = _NAN if r["x"] is None else r["x"]
    return wkb.contains(wkb.decode(r["poly"]), x, r["y"])


def _f8(v):
    return _NAN if v is None else v


def _cases() -> dict:
    """name -> (DataFrame API column, SQL expression, per-row truth)."""
    return {
        "ST_Point": (
            gf.st_point(F.col("x"), F.col("y")), "ST_Point(x, y)",
            lambda r: wkb.encode(("Point", (_f8(r["x"]), _f8(r["y"])))),
        ),
        "ST_X": (gf.st_x(F.col("p")), "ST_X(p)", lambda r: _point_xy(r["p"], 0)),
        "ST_Y": (gf.st_y(F.col("p")), "ST_Y(p)", lambda r: _point_xy(r["p"], 1)),
        "ST_X__le": (gf.st_x(F.col("pl")), "ST_X(pl)", lambda r: _point_xy(r["pl"], 0)),
        "ST_Y__le": (gf.st_y(F.col("pl")), "ST_Y(pl)", lambda r: _point_xy(r["pl"], 1)),
        "ST_Envelope": (
            gf.st_envelope(F.col("g")), "ST_Envelope(g)",
            lambda r: (None,) * 4 if r["g"] is None
            else tuple(_num(b) for b in wkb.bbox(wkb.decode(r["g"]))),
        ),
        "ST_Area": (
            gf.st_area(F.col("g")), "ST_Area(g)",
            _on("g", lambda v: _num(wkb.area(wkb.decode(v)))),
        ),
        "ST_Length": (
            gf.st_length(F.col("g")), "ST_Length(g)",
            _on("g", lambda v: _num(wkb.length(wkb.decode(v)))),
        ),
        "ST_Centroid": (
            gf.st_centroid(F.col("g")), "ST_Centroid(g)",
            _on("g", lambda v: wkb.encode(("Point", wkb.centroid(wkb.decode(v))))),
        ),
        "ST_AsText": (
            gf.st_astext(F.col("g")), "ST_AsText(g)",
            _on("g", lambda v: wkb.to_wkt(wkb.decode(v))),
        ),
        "ST_Distance": (gf.st_distance(F.col("p"), F.col("q")), "ST_Distance(p, q)", _distance),
        "ST_ContainsPoint": (
            gf.st_contains_point(F.col("poly"), F.col("x"), F.col("y")),
            "ST_ContainsPoint(poly, x, y)", _contains,
        ),
        "ST_Buffer": (
            gf.st_buffer(F.col("p"), F.col("d"), F.col("n")), "ST_Buffer(p, d, n)",
            lambda r: None if r["p"] is None else _buffer(r["p"], r["d"], r["n"]),
        ),
        "ST_Buffer__lit": (
            gf.st_buffer(F.col("p"), F.lit(0.75), F.lit(6)), "ST_Buffer(p, 0.75, 6)",
            _on("p", lambda v: _buffer(v, 0.75, 6)),
        ),
        "ST_Simplify": (
            gf.st_simplify(F.col("g"), F.col("t")), "ST_Simplify(g, t)",
            lambda r: None if r["g"] is None else _simplify(r["g"], r["t"]),
        ),
        "ST_EnvelopeIntersects": (
            gf.st_envelope_intersects(F.col("g"), *(F.lit(v) for v in _WIN)),
            "ST_EnvelopeIntersects(g, {}, {}, {}, {})".format(*_WIN),
            _on("g", lambda v: _overlaps(v, _WIN)),
        ),
        "ST_NumGeometries": (
            gf.st_num_geometries(F.col("g")), "ST_NumGeometries(g)", _on("g", _parts),
        ),
    }


def _plain(v):
    """A collected value in the truth's terms (bytes, tuples, floats)."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, tuple):  # a Row
        return tuple(v)
    return v


def _same(got, want) -> bool:
    if isinstance(want, float) and isinstance(got, float):
        return got == want or (math.isnan(got) and math.isnan(want))
    return got == want


@pytest.fixture(scope="module")
def mixed(spark):
    rows = _frame_rows()
    df = spark.createDataFrame([tuple(r[f.name] for f in _SCHEMA) for r in rows], _SCHEMA)
    df.createOrReplaceTempView("st_mixed")
    return rows, df


def _check(rows, got_rows, how: str):
    assert [r["i"] for r in got_rows] == [r["i"] for r in rows]
    for name, (_, _, truth) in _cases().items():
        for r, g in zip(rows, got_rows):
            want, got = truth(r), _plain(g[name])
            assert _same(got, want), (how, name, r["i"], got, want)


def test_every_st_function_matches_per_row_truth_dataframe_api(mixed):
    """All 14 functions through the DataFrame API on one seeded frame:
    every kind in both byte orders, NULL, EMPTY and NaN coordinates.
    A NaN double result is NULL, a NULL geometry gives NULL (false for
    ST_ContainsPoint), and every other value is the per-row ``wkb``
    result, bit for bit."""
    rows, df = mixed
    got = df.select("i", *(c.alias(k) for k, (c, _, _) in _cases().items())).orderBy("i")
    _check(rows, got.collect(), "dataframe")


def test_every_st_function_matches_per_row_truth_sql(spark, mixed):
    """The same 14 functions by name in ``spark.sql``, with SQL decimal
    literals as ST_Buffer's and ST_EnvelopeIntersects' arguments."""
    rows, _ = mixed
    gf.register_sql(spark)
    cols = ", ".join(f"{sql} AS {k}" for k, (_, sql, _) in _cases().items())
    got = spark.sql(f"SELECT i, {cols} FROM st_mixed ORDER BY i")
    _check(rows, got.collect(), "sql")
    assert {k.split("__")[0] for k in _cases()} == set(gf._UDFS)


def test_untyped_null_arguments_keep_their_results(spark):
    """A bare NULL literal (no binary type) as the geometry argument."""
    gf.register_sql(spark)
    r = spark.sql(
        "SELECT ST_EnvelopeIntersects(NULL, 0.0, 0.0, 1.0, 1.0) AS hit,"
        " ST_ContainsPoint(NULL, 0.5, 0.5) AS inside, ST_X(NULL) AS x,"
        " ST_Area(NULL) AS a, ST_Envelope(NULL) AS e, ST_AsText(NULL) AS t,"
        " ST_NumGeometries(NULL) AS k"
    ).first()
    assert r.hit is None and r.inside is False
    assert r.x is None and r.a is None and r.t is None and r.k is None
    assert tuple(r.e) == (None,) * 4


# ------------------------------------------------- one registration per session


@pytest.fixture
def count_registrations(monkeypatch):
    """Counts ``spark.udf.register`` calls; ``fail_at`` (1-based) makes
    that call raise."""
    from pyspark.sql.udf import UDFRegistration

    real = UDFRegistration.register
    state = {"calls": 0, "fail_at": None}

    def counting(self, name, f, returnType=None):
        state["calls"] += 1
        if state["calls"] == state["fail_at"]:
            raise RuntimeError("registration failed")
        return real(self, name, f, returnType)

    monkeypatch.setattr(UDFRegistration, "register", counting)
    return state


def test_second_registration_in_a_session_makes_no_register_calls(spark, count_registrations):
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    gf._REGISTERED.discard(spark)
    gf.register_sql(spark)
    assert count_registrations["calls"] == len(gf._UDFS)
    gf.register_sql(spark)
    assert geo_sql(spark, "SELECT ST_X(ST_Point(1.5D, 2.0D)) AS x").first().x == 1.5
    assert count_registrations["calls"] == len(gf._UDFS)


def test_registration_that_fails_part_way_registers_again(spark, count_registrations):
    gf._REGISTERED.discard(spark)
    count_registrations["fail_at"] = 5
    with pytest.raises(RuntimeError, match="registration failed"):
        gf.register_sql(spark)
    assert spark not in gf._REGISTERED
    count_registrations.update(calls=0, fail_at=None)
    gf.register_sql(spark)
    assert count_registrations["calls"] == len(gf._UDFS)
    assert spark in gf._REGISTERED


# ------------------------------------------------------------ one UDF style


def test_every_st_udf_is_an_arrow_udf_and_functions_has_no_pandas():
    """One UDF style for the ST_* layer: every registered function is a
    scalar Arrow UDF, and geo/functions.py does not import pandas."""
    from pyspark.util import PythonEvalType

    for name, fn in gf._UDFS.items():
        assert fn.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF, name
    imported = set()
    for node in ast.walk(ast.parse(inspect.getsource(gf))):
        if isinstance(node, ast.Import):
            imported |= {a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module.split(".")[0])
            imported |= {a.name for a in node.names}
    assert "pandas" not in imported and "pandas_udf" not in imported, imported
