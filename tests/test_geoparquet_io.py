"""GeoParquet sink/source round-trip tests (SURVEY.md §5.1: the
reference's implicit test IS the metadata-preserving round-trip)."""

from __future__ import annotations

import json
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geoparquet_python_spark.geo import covering
from geoparquet_python_spark.geo import io as gio
from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.geo.functions import st_point
from geoparquet_python_spark.io import load_table


@pytest.fixture()
def tmp_out(tmp_path):
    out = str(tmp_path / "gpq")
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _points_df(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    return cust.select("c_custkey", st_point(lon, lat).alias("geometry"))


def test_roundtrip_preserves_bytes_and_metadata(spark, sf_dir_small, tmp_out):
    df = _points_df(spark, sf_dir_small)
    n = gio.write_geoparquet(df, tmp_out, "geometry", crs="OGC:CRS84")
    assert n == df.count()

    meta = gio.geo_metadata(tmp_out)
    assert meta["version"] == gio.SPEC_VERSION
    assert meta["primary_column"] == "geometry"
    assert meta["columns"]["geometry"]["encoding"] == "WKB"
    assert meta["columns"]["geometry"]["crs"] == "OGC:CRS84"

    back = gio.read_geoparquet(spark, tmp_out)
    assert "bbox" in back.columns  # covering column materialized at write
    want = {(r.c_custkey, bytes(r.geometry)) for r in df.collect()}
    got = {(r.c_custkey, bytes(r.geometry)) for r in back.collect()}
    assert got == want
    # geometry column carries the geo metadata in its schema
    field = dict(zip(back.columns, back.schema.fields))["geometry"]
    assert field.metadata["geo"]["encoding"] == "WKB"


def test_footer_carries_true_bbox_and_geometry_types(spark, sf_dir_small, tmp_out):
    """Spec-form consumers prune files on footer bbox/geometry_types, so
    the sink must stamp TRUE per-file values (not placeholders), and
    geo_metadata must merge them into the dataset extent."""
    df = _points_df(spark, sf_dir_small)
    gio.write_geoparquet(df, tmp_out, "geometry", crs="OGC:CRS84")

    # dataset-level merged metadata equals the brute-force extent
    xs, ys = [], []
    for r in df.collect():
        x, y = wkb.decode(bytes(r.geometry))[1]
        xs.append(x)
        ys.append(y)
    meta = gio.geo_metadata(tmp_out)
    col = meta["columns"]["geometry"]
    assert col["geometry_types"] == ["Point"]
    bb = col["bbox"]
    assert bb == pytest.approx([min(xs), min(ys), max(xs), max(ys)])

    # every individual part footer carries its own true (tighter) bbox
    import glob as _glob

    for f in sorted(_glob.glob(f"{tmp_out}/*.parquet")):
        md = pq.ParquetFile(f).schema_arrow.metadata
        doc = json.loads(md[gio.GEO_KEY].decode())
        c = doc["columns"]["geometry"]
        assert c["geometry_types"] == ["Point"]
        fb = c["bbox"]
        assert bb[0] <= fb[0] and bb[1] <= fb[1]
        assert fb[2] <= bb[2] and fb[3] <= bb[3]
        # per-file bbox matches that file's actual rows
        tbl = pq.read_table(f, columns=["geometry"])
        pts = [wkb.decode(v.as_py())[1] for v in tbl.column("geometry")]
        assert fb == pytest.approx(
            [min(p[0] for p in pts), min(p[1] for p in pts),
             max(p[0] for p in pts), max(p[1] for p in pts)]
        )

    # read side surfaces merged bbox + types on the column metadata
    back = gio.read_geoparquet(spark, tmp_out)
    field = dict(zip(back.columns, back.schema.fields))["geometry"]
    assert field.metadata["geo"]["geometry_types"] == ["Point"]
    assert field.metadata["geo"]["bbox"] == pytest.approx(bb)


def test_footer_geometry_types_mixed(spark, tmp_path):
    """Mixed geometry types in one file all surface in the footer."""
    geoms = [
        wkb.encode(("Point", (1.0, 2.0))),
        wkb.encode(("LineString", [(0.0, 0.0), (1.0, 1.0)])),
        wkb.encode(("Polygon", [[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 0.0)]])),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(g)) for i, g in enumerate(geoms)], "id long, geometry binary"
    ).coalesce(1)
    out = str(tmp_path / "mixed")
    gio.write_geoparquet(df, out, "geometry")
    meta = gio.geo_metadata(out)
    assert meta["columns"]["geometry"]["geometry_types"] == [
        "LineString", "Point", "Polygon"
    ]
    assert meta["columns"]["geometry"]["bbox"] == pytest.approx([0.0, 0.0, 2.0, 2.0])


def test_legacy_reference_form_read(spark, tmp_path):
    """The reference's pre-spec footer key (geometry_fields, SURVEY.md
    §0.2 step ⑤) must be readable and normalized."""
    out = str(tmp_path / "legacy")
    pts = [wkb.encode(("Point", (float(i), float(-i)))) for i in range(5)]
    table = pa.table({"id": list(range(5)), "geom": pts})
    legacy = json.dumps(
        [{"field_name": "geom", "geometry_format": "wkb", "crs": "epsg:4326"}]
    ).encode()
    table = table.replace_schema_metadata({gio.LEGACY_KEY: legacy})
    import os

    os.makedirs(out)
    pq.write_table(table, f"{out}/part-0.parquet")

    meta = gio.geo_metadata(out)
    assert meta["version"] == "legacy"
    assert meta["primary_column"] == "geom"
    assert meta["columns"]["geom"]["encoding"] == "WKB"
    assert meta["columns"]["geom"]["crs"] == "epsg:4326"

    back = gio.read_geoparquet(spark, out)
    assert back.count() == 5
    assert wkb.decode(bytes(back.orderBy("id").first().geom)) == ("Point", (0.0, -0.0))


def test_bbox_filter_pushdown(spark, sf_dir_small, tmp_out):
    """Spatial predicate -> bbox conjuncts -> Parquet PushedFilters
    (SURVEY.md §4.3: the rewrite happens in the API layer, pushdown is
    free from the scan)."""
    gio.write_geoparquet(_points_df(spark, sf_dir_small), tmp_out, "geometry")
    back = gio.read_geoparquet(spark, tmp_out)
    q = back.where(
        (F.col("bbox.xmin") >= 0.0) & (F.col("bbox.ymax") <= 40.0)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "xmin" in plan  # bbox struct fields reached the scan
    # and the filter is correct
    rows = q.collect()
    for r in rows:
        x, y = wkb.decode(bytes(r.geometry))[1]
        assert x >= 0.0 and y <= 40.0
    full = {bytes(r.geometry) for r in back.collect()}
    kept = {
        g
        for g in full
        if wkb.decode(g)[1][0] >= 0.0 and wkb.decode(g)[1][1] <= 40.0
    }
    assert {bytes(r.geometry) for r in rows} == kept


def test_spatial_window_filter_rewrite(spark, sf_dir_small, tmp_out):
    """spatial_window_filter = coarse pushdown-able bbox conjuncts +
    exact envelope refine; equals brute-force intersection test."""
    from geoparquet_python_spark.geo.functions import spatial_window_filter

    gio.write_geoparquet(_points_df(spark, sf_dir_small), tmp_out, "geometry")
    back = gio.read_geoparquet(spark, tmp_out)
    win = (-30.0, -20.0, 90.0, 70.0)
    got = {
        bytes(r.geometry)
        for r in spatial_window_filter(back, win, "geometry").collect()
    }
    want = set()
    for r in back.collect():
        x, y = wkb.decode(bytes(r.geometry))[1]
        if win[0] <= x <= win[2] and win[1] <= y <= win[3]:
            want.add(bytes(r.geometry))
    assert got == want
    plan = (
        spatial_window_filter(back, win, "geometry")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "xmin" in plan


def test_st_functions_sql_registration(spark, sf_dir_small):
    """register_sql exposes the ST_* UDF surface to SQL strings (§2.G)."""
    from geoparquet_python_spark.geo.functions import register_sql

    register_sql(spark)
    row = spark.sql(
        """
        SELECT ST_X(p) AS x, ST_Y(p) AS y,
               ST_AsText(p) AS wkt,
               ST_Area(ST_Buffer(p, 2.0, 16)) AS a
        FROM (SELECT ST_Point(3.5D, -1.25D) AS p)
        """
    ).first()
    assert row.x == 3.5 and row.y == -1.25
    assert row.wkt == "POINT (3.5 -1.25)"
    import math

    assert abs(row.a - 0.5 * 16 * 4.0 * math.sin(2 * math.pi / 16)) < 1e-9


def test_write_is_idempotent_per_partition(spark, sf_dir_small, tmp_out):
    """Task-commit protocol: re-running the same write (the user-level
    analogue of a retried/speculative task attempt) renames onto the
    SAME canonical part names — no duplicate part files, no doubled
    rows, no leftover temp files."""
    import glob
    import os

    df = _points_df(spark, sf_dir_small)
    n1 = gio.write_geoparquet(df, tmp_out, "geometry")
    files1 = sorted(glob.glob(os.path.join(tmp_out, "*.parquet")))
    n2 = gio.write_geoparquet(df, tmp_out, "geometry")
    files2 = sorted(glob.glob(os.path.join(tmp_out, "*.parquet")))
    assert n1 == n2 == df.count()
    assert files1 == files2, "retry must overwrite, not add part files"
    assert gio.read_geoparquet(spark, tmp_out).count() == df.count()
    assert not glob.glob(os.path.join(tmp_out, ".part-*")), "temp files leaked"


def test_write_empty_dataframe_is_readable(spark, sf_dir_small, tmp_out):
    """An all-empty write must still leave a valid zero-row GeoParquet
    dataset (schema + geo footer), not an empty directory that breaks
    read_geoparquet."""
    df = _points_df(spark, sf_dir_small).where(F.lit(False))
    n = gio.write_geoparquet(df, tmp_out, "geometry")
    assert n == 0
    meta = gio.geo_metadata(tmp_out)
    assert meta is not None and meta["primary_column"] == "geometry"
    back = gio.read_geoparquet(spark, tmp_out)
    assert back.count() == 0
    assert "geometry" in back.columns


def test_root_level_reference_parity_api(spark, tmp_path):
    """The reference exposes read_geoparquet as a module function and
    to_geoparquet as the writer name — both work from the package
    root, so a reference user can switch with an import change."""
    import geoparquet_python_spark as gpq
    from geoparquet_python_spark.geo.functions import st_point

    d = spark.range(7).select(
        F.col("id").alias("k"),
        st_point(F.col("id") * 1.0, F.col("id") * 2.0).alias("geometry"),
    )
    path = str(tmp_path / "root_api")
    assert gpq.to_geoparquet(d, path) == 7
    back = gpq.read_geoparquet(spark, path)
    assert back.count() == 7
    assert "geometry" in back.columns


def test_sql_rewrite_injects_sargable_conjuncts():
    """Text-level: every ST_EnvelopeIntersects atom gains covering-box
    conjuncts, in ANY boolean context (atom-local implied-conjunct
    rewrites are equivalences), and non-matching atoms are untouched."""
    from geoparquet_python_spark.geo.sqlrewrite import rewrite_spatial_sql

    sql = (
        "SELECT * FROM t WHERE NOT (ST_EnvelopeIntersects(g, -1, -2.5, 3e1, 4)"
        " OR flag) AND ST_EnvelopeIntersects(g, 0, 0, 1, 1)"
    )
    out = rewrite_spatial_sql(sql)
    assert out.count("bbox.xmin <=") == 2
    # atom preserved inside the conjunction (stays as the exact refine)
    assert out.count("ST_EnvelopeIntersects(g, -1, -2.5, 3e1, 4)") == 1
    assert "(bbox.xmin <= 3e1 AND bbox.xmax >= -1" in out
    # column-bound windows are not literal-matchable: left untouched
    dyn = "SELECT * FROM t WHERE ST_EnvelopeIntersects(g, a, 0, 1, 1)"
    assert rewrite_spatial_sql(dyn) == dyn


def test_sql_pushdown_query_prunes_and_matches_unrewritten(spark, sf_dir):
    """The registered SQL-string query must (a) push the injected bbox
    conjuncts into the Parquet scan, (b) return exactly what the same
    SQL returns WITHOUT the rewrite (soundness end-to-end)."""
    from geoparquet_python_spark import registry
    from geoparquet_python_spark.geo.functions import register_sql
    from geoparquet_python_spark.testing import canonicalize

    registry.load_all()
    df = registry.QUERIES["q_geo_sql_pushdown_window"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(bbox.xmin)" in plan, (
        "bbox conjuncts did not reach the Parquet scan"
    )

    # same statement, no rewrite (UDF-only filter; geo_pts view was
    # registered by the query above)
    register_sql(spark)
    raw = spark.sql(
        """
        SELECT c_nationkey, COUNT(*) AS n,
               MIN(ST_X(geometry)) AS min_x, MAX(ST_X(geometry)) AS max_x
        FROM geo_pts
        WHERE ST_EnvelopeIntersects(geometry, -90.0, -40.0, 60.0, 55.0)
        GROUP BY c_nationkey ORDER BY c_nationkey
        """
    )
    assert canonicalize(df.toPandas()).equals(canonicalize(raw.toPandas()))


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    """The hive-partitioned layout must prune at the directory level:
    the cell filter appears in PartitionFilters (files for other cells
    are never listed into the scan), distinct from the covering
    column's row-group PushedFilters."""
    from geoparquet_python_spark import registry

    registry.load_all()
    df = registry.QUERIES["q_geo_partitioned_scan"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell_x" in plan
    assert "(cell_x" in plan.split("PartitionFilters:")[1][:120]


def test_multi_geometry_metadata_on_both_columns(spark, sf_dir, tmp_path):
    """A two-geometry-column write must stamp a `columns` entry per
    geometry into every footer; the read must re-attach metadata to
    BOTH Spark columns with geo_primary marking the primary — the
    multi-geometry capability GeoParquet 1.1 specifies and the round-6
    VERDICT listed as the last unimplemented nice-to-have."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.geo import io as gio
    from geoparquet_python_spark.geo.functions import st_point
    from geoparquet_python_spark.io import load_table

    out = str(tmp_path / "multigeom")
    cust = load_table(spark, sf_dir, "customer").limit(200)
    lon = (F.col("c_custkey") * 7919 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 4409 % 1700) / 10.0 - 85.0
    pts = cust.select(
        "c_custkey",
        st_point(lon, lat).alias("geometry"),
        st_point(lon / 2.0, lat / 2.0).alias("dest"),
    )
    gio.write_geoparquet(
        pts, out, "geometry", secondary_geometry_cols=["dest"]
    )
    meta = gio.geo_metadata(out)
    assert set(meta["columns"]) == {"geometry", "dest"}
    assert meta["primary_column"] == "geometry"
    assert meta["columns"]["dest"]["geometry_types"] == ["Point"]
    assert "bbox" in meta["columns"]["geometry"]

    back = gio.read_geoparquet(spark, out)
    fields = {f.name: f for f in back.schema.fields}
    assert fields["geometry"].metadata["geo_primary"] is True
    assert fields["dest"].metadata["geo_primary"] is False
    assert fields["dest"].metadata["geo"]["encoding"] == "WKB"


def _mixed_geometry_df(spark):
    """Points, single- and multi-ring polygons, other kinds, NULL and
    empty geometries over several partitions."""
    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)]
    geoms = [
        wkb.encode(("Point", (1.5, -2.0))),
        wkb.encode(("Polygon", [sq])),
        wkb.encode(("Polygon", [sq, hole])),
        wkb.encode(("LineString", [(-3.0, 1.0), (7.0, 2.0)])),
        wkb.encode(("MultiPoint", [(9.0, 9.0), (-9.0, 8.0)])),
        wkb.encode(("LineString", [])),
        wkb.encode(("Point", (float("nan"), float("nan")))),
        None,
    ]
    rows = [
        (i, None if geoms[i % len(geoms)] is None else bytearray(geoms[i % len(geoms)]))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "id long, geometry binary").repartition(3)


def test_fused_covering_equals_add_bbox_column(spark, tmp_path):
    """The writer computes the covering in its own mapInArrow pass; its
    bbox column must equal add_bbox_column's (the st_envelope UDF) row
    for row — NULL geometry gives NULL fields, empties keep ±inf."""
    df = _mixed_geometry_df(spark)
    out = str(tmp_path / "fused")
    assert gio.write_geoparquet(df, out) == 40
    got = {r.id: r.bbox for r in spark.read.parquet(out).select("id", "bbox").collect()}
    want = {r.id: r.bbox for r in gio.add_bbox_column(df).select("id", "bbox").collect()}
    assert got == want
    assert want[7] == (None, None, None, None)
    assert want[5] == (float("inf"), float("inf"), float("-inf"), float("-inf"))
    assert list(spark.read.parquet(out).columns) == ["id", "geometry", "bbox"]


def test_covering_metadata_stamped_and_merged(spark, tmp_path):
    """GeoParquet 1.1: the primary column declares its bbox covering in
    every part footer, and geo_metadata's per-file merge keeps it; a
    write without the covering column declares none."""
    import glob as _glob

    want = {
        "bbox": {
            "xmin": ["bbox", "xmin"], "ymin": ["bbox", "ymin"],
            "xmax": ["bbox", "xmax"], "ymax": ["bbox", "ymax"],
        }
    }
    df = _mixed_geometry_df(spark)
    out = str(tmp_path / "cov")
    gio.write_geoparquet(df, out)
    files = sorted(_glob.glob(f"{out}/*.parquet"))
    assert len(files) == 3
    for f in files:
        doc = json.loads(pq.ParquetFile(f).schema_arrow.metadata[gio.GEO_KEY])
        assert doc["columns"]["geometry"]["covering"] == want
    meta = gio.geo_metadata(out)
    assert meta["columns"]["geometry"]["covering"] == want
    assert meta["columns"]["geometry"]["bbox"] == [-9.0, -2.0, 9.0, 9.0]

    bare = str(tmp_path / "bare")
    gio.write_geoparquet(df, bare, bbox_covering=False)
    assert "covering" not in gio.geo_metadata(bare)["columns"]["geometry"]
    assert "bbox" not in spark.read.parquet(bare).columns

    empty = str(tmp_path / "empty")
    assert gio.write_geoparquet(df.where(F.lit(False)), empty) == 0
    assert gio.geo_metadata(empty)["columns"]["geometry"]["covering"] == want
    assert "bbox" in spark.read.parquet(empty).columns


def test_vectorized_read_udfs_keep_row_semantics(spark):
    """st_envelope_intersects and st_area run on the columnar kernel:
    NULL geometry still gives NULL, Point rows have area exactly 0.0,
    polygon areas stay bit-identical to the per-row wkb.area, and SQL
    decimal window literals compare as doubles."""
    from decimal import Decimal

    import pyarrow as pa

    from geoparquet_python_spark.geo.functions import (
        register_sql,
        st_area,
        st_envelope_intersects,
    )

    poly = wkb.encode(("Polygon", [[(0.1, 0.2), (3.3, 0.4), (1.7, 2.9), (0.1, 0.2)]]))
    holed = wkb.encode((
        "Polygon",
        [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)],
         [(2.0, 1.0), (3.0, 1.0), (3.0, 2.0), (2.0, 1.0)]],
    ))
    g = pa.array([wkb.encode(("Point", (5.0, 5.0))), None, poly, holed,
                  wkb.encode(("Point", (-1.0, 0.5)))], pa.binary())
    area = st_area.func(g).to_pylist()
    assert area[0] == 0.0 and area[4] == 0.0 and area[1] is None
    assert area[2] == wkb.area(wkb.decode(poly))
    assert area[3] == wkb.area(wkb.decode(holed))

    win = [pa.array([v] * len(g)) for v in (Decimal("0.0"), Decimal("0.0"),
                                            Decimal("4.5"), Decimal("4.5"))]
    hit = st_envelope_intersects.func(g, *win)
    assert hit.to_pylist() == [False, None, True, True, False]

    register_sql(spark)
    rows = spark.sql(
        "SELECT ST_EnvelopeIntersects(g, 0.0, 0.0, 4.5, 4.5) AS hit, ST_Area(g) AS a "
        "FROM (SELECT 0 AS i, CAST(NULL AS BINARY) AS g "
        "UNION ALL SELECT 1, ST_Point(1.0D, 1.0D)) ORDER BY i"
    ).collect()
    assert rows[0].hit is None and rows[0].a is None
    assert (rows[1].hit, rows[1].a) == (True, 0.0)


# ------------------------------------------- exact covering: refine skip

_SKIP_WIN = (-1.0, -3.0, 2.0, 3.5)
_FAR = wkb.encode(("Point", (500.0, 500.0)))


def _skip_lake_df(spark):
    """Points, polygons and multi-part geometries, plus NULL, EMPTY, an
    all-NaN point and a point with one NaN coordinate (``wkb.bounds``
    skips NaN coordinates: its envelope is (inf, 3, -inf, 3), which a
    NOT-wrapped atom tells apart from a NULL covering)."""
    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    far_sq = [(50.0, 50.0), (51.0, 50.0), (51.0, 51.0), (50.0, 50.0)]
    near_sq = [(-50.0, -50.0), (-49.0, -50.0), (-49.0, -49.0), (-50.0, -50.0)]
    geoms = [
        wkb.encode(("Point", (1.5, -2.0))),
        wkb.encode(("Point", (30.0, 30.0))),
        wkb.encode(("Polygon", [sq])),
        wkb.encode(("LineString", [(-3.0, 1.0), (7.0, 2.0)])),
        wkb.encode(("MultiPoint", [(9.0, 9.0), (-9.0, 8.0)])),
        wkb.encode(("MultiPolygon", [[far_sq], [near_sq]])),
        wkb.encode(("LineString", [])),
        wkb.encode(("Point", (float("nan"), float("nan")))),
        wkb.encode(("Point", (float("nan"), 3.0))),
        None,
    ]
    rows = [
        (i, None if geoms[i % len(geoms)] is None else bytearray(geoms[i % len(geoms)]))
        for i in range(50)
    ]
    return spark.createDataFrame(rows, "id long, geometry binary").repartition(3)


def _truth(df, win, bbox=True):
    """Ids whose geometry's envelope meets ``win`` (and, with ``bbox``,
    whose covering box does), from ``wkb.bounds`` on the driver."""
    rows = df.select("id", "geometry", *(["bbox"] if bbox else [])).collect()
    env = wkb.bounds(pa.array([None if r.geometry is None else bytes(r.geometry)
                               for r in rows], pa.binary()))
    x0, y0, x1, y1 = win
    out = []
    for r, (a, b, c, d) in zip(rows, env):
        boxes = [(a, b, c, d)] + ([tuple(r.bbox)] if bbox else [])
        if all(v is not None and bx[0] <= x1 and bx[2] >= x0 and bx[1] <= y1
               and bx[3] >= y0 for bx in boxes for v in bx):
            out.append(r.id)
    return sorted(out)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def _udf_nodes(df):
    return df._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")


def _swf(df, win=_SKIP_WIN):
    from geoparquet_python_spark.geo.functions import spatial_window_filter

    return spatial_window_filter(df, win)


_SKIP_SQL = [
    "SELECT id FROM {v} WHERE ST_EnvelopeIntersects(geometry, -1.0, -3.0, 2.0, 3.5)",
    "SELECT id FROM {v} WHERE NOT ST_EnvelopeIntersects(geometry, -1.0, -3.0, 2.0, 3.5)",
    "SELECT id, ST_EnvelopeIntersects(geometry, -1.0, -3.0, 2.0, 3.5) AS hit FROM {v}",
]


def _sql_matches_unrewritten(spark, view):
    """geo_sql returns what the un-rewritten statement returns, in a
    WHERE, under NOT and as a projected value (NULL included); the
    number of ArrowEvalPython nodes of the WHERE form is returned."""
    from geoparquet_python_spark.geo.functions import register_sql
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    register_sql(spark)
    for sql in _SKIP_SQL:
        sql = sql.format(v=view)
        got = sorted(map(tuple, geo_sql(spark, sql).collect()), key=str)
        want = sorted(map(tuple, spark.sql(sql).collect()), key=str)
        assert got == want, sql
    return _udf_nodes(geo_sql(spark, _SKIP_SQL[0].format(v=view)))


def test_exact_lake_skips_the_refine_on_both_paths(spark, tmp_path):
    """A lake whose covering this writer computed: the footer key is on
    every part file, both columns carry one token, and both read paths
    drop the refine (no ArrowEvalPython at all) yet return exactly the
    refine path's rows, with the stripped-tag refine and the
    un-rewritten SQL as references."""
    out = str(tmp_path / "exact")
    df = _skip_lake_df(spark)
    gio.write_geoparquet(df, out)
    files = sorted(p for p in (tmp_path / "exact").glob("*.parquet"))
    assert len(files) == 3
    for f in files:
        md = pq.ParquetFile(f).schema_arrow.metadata
        assert md[gio.EXACT_COVERING_KEY] == b"bbox"
        assert b"exact" not in md[gio.GEO_KEY]  # the spec doc is unchanged
    lake = gio.read_geoparquet(spark, out)
    fields = {f.name: f.metadata for f in lake.schema.fields}
    token = fields["geometry"][covering.TOKEN_KEY]
    assert fields["bbox"] == {covering.TOKEN_KEY: token}
    assert covering.is_exact(lake, "geometry", "bbox")

    q = _swf(lake)
    assert _udf_nodes(q) == 0
    want = _truth(lake, _SKIP_WIN)
    assert want and _ids(q) == want
    assert _ids(_swf(lake.withMetadata("bbox", {}))) == want  # forced refine
    lake.createOrReplaceTempView("skip_exact_lake")
    assert _sql_matches_unrewritten(spark, "skip_exact_lake") == 0

    # the schema-only part of an empty write carries the key too
    empty = str(tmp_path / "empty")
    gio.write_geoparquet(df.where(F.lit(False)), empty)
    md = pq.ParquetFile(f"{empty}/part-00000.parquet").schema_arrow.metadata
    assert md[gio.EXACT_COVERING_KEY] == b"bbox"


def _wide(df):
    """``df`` with a deliberately over-approximating covering column."""
    return df.withColumn("bbox", F.struct(*(
        F.lit(v).alias(n) for n, v in zip(
            ("xmin", "ymin", "xmax", "ymax"), (-1e3, -1e3, 1e3, 1e3)))))


def _assert_refine_kept(spark, df, want, view=None):
    """Both paths keep a UDF node and return ``want``: the rows whose
    covering box and geometry envelope both meet the window (the SQL
    rewrite's covering conjuncts apply even where the box is no
    covering of the row's geometry)."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    q = _swf(df)
    assert _udf_nodes(q) >= 1
    assert _ids(q) == want
    if view is not None:
        df.createOrReplaceTempView(view)
        q = geo_sql(spark, _SKIP_SQL[0].format(v=view))
        assert _udf_nodes(q) >= 1
        assert _ids(q) == want


def test_inexact_coverings_keep_the_refine(spark, tmp_path):
    """Every frame the writer's key or the read's token cannot vouch for
    keeps the refine and stays exact: a covering the input brought, no
    covering, one part file without the key, a column replaced after
    the read, two lakes' columns side by side (joined, or one lake
    joined to itself), a union with a wider box, and a Spark-written
    copy whose files still carry the token in Spark's own schema."""
    base = _skip_lake_df(spark)

    given = str(tmp_path / "given")
    gio.write_geoparquet(_wide(base), given)
    lake = gio.read_geoparquet(spark, given)
    assert gio.EXACT_COVERING_KEY not in pq.ParquetFile(
        f"{given}/part-00000.parquet").schema_arrow.metadata
    _assert_refine_kept(spark, lake, _truth(lake, _SKIP_WIN), "skip_given")

    bare = str(tmp_path / "bare")
    gio.write_geoparquet(base, bare, bbox_covering=False)
    lake = gio.read_geoparquet(spark, bare)
    assert gio.EXACT_COVERING_KEY not in pq.ParquetFile(
        f"{bare}/part-00000.parquet").schema_arrow.metadata
    _assert_refine_kept(spark, lake, _truth(lake, _SKIP_WIN, bbox=False))

    mixed = str(tmp_path / "mixed")
    gio.write_geoparquet(base, mixed)
    part = f"{mixed}/part-00001.parquet"
    tbl = pq.read_table(part)
    wide = pa.array([{"xmin": -1e3, "ymin": -1e3, "xmax": 1e3, "ymax": 1e3}] * len(tbl),
                    tbl.schema.field("bbox").type)
    tbl = tbl.set_column(tbl.schema.get_field_index("bbox"), "bbox", wide)
    md = dict(tbl.schema.metadata)
    del md[gio.EXACT_COVERING_KEY]
    pq.write_table(tbl.replace_schema_metadata(md), part)
    lake = gio.read_geoparquet(spark, mixed)
    _assert_refine_kept(spark, lake, _truth(lake, _SKIP_WIN), "skip_mixed")

    exact = str(tmp_path / "exact")
    gio.write_geoparquet(base, exact)
    lake = gio.read_geoparquet(spark, exact)
    wide_box = _wide(lake)
    _assert_refine_kept(spark, wide_box, _truth(wide_box, _SKIP_WIN), "skip_wide_box")
    moved = lake.withColumn(
        "geometry",
        F.when(F.col("id") % 2 == 0, F.lit(_FAR)).otherwise(F.col("geometry")),
    )
    _assert_refine_kept(spark, moved, _truth(moved, _SKIP_WIN), "skip_moved")

    other = str(tmp_path / "other")
    gio.write_geoparquet(
        base.withColumn("geometry", F.when(F.col("id") % 3 == 0, F.lit(_FAR))
                        .otherwise(F.col("geometry"))),
        other,
    )
    b = gio.read_geoparquet(spark, other)
    swapped = lake.drop("geometry").join(b.select("id", "geometry"), "id")
    _assert_refine_kept(spark, swapped, _truth(swapped, _SKIP_WIN), "skip_swapped")
    shifted = lake.select((F.col("id") + 1).alias("id"), "geometry")
    self_swap = lake.drop("geometry").join(shifted, "id")
    union = lake.unionByName(_wide(lake).withColumn("id", F.col("id") + 1000))
    for frame in (self_swap, union):  # one read's token on both columns
        tokens = {f.name: f.metadata.get(covering.TOKEN_KEY) for f in frame.schema.fields}
        assert tokens["geometry"] is not None and tokens["geometry"] == tokens["bbox"]
    _assert_refine_kept(spark, self_swap, _truth(self_swap, _SKIP_WIN), "skip_self_swap")
    _assert_refine_kept(spark, union, _truth(union, _SKIP_WIN), "skip_union")
    copy = str(tmp_path / "copy")
    union.write.parquet(copy)
    reread = spark.read.parquet(copy)
    fields = {f.name: f.metadata for f in reread.schema.fields}
    assert fields["bbox"] == {covering.TOKEN_KEY: fields["geometry"][covering.TOKEN_KEY]}
    _assert_refine_kept(spark, reread, _truth(reread, _SKIP_WIN), "skip_copy")


def test_geo_sql_keeps_atoms_it_cannot_resolve(spark, tmp_path):
    """On an exact lake the unqualified atom is dropped, also under a
    derived table, an aggregate or a same-name column-alias list. A
    qualified geometry name, a CTE, a name the statement redefines (by
    an alias or a generator), a join (comma, self or of two lakes, also inside a derived table that
    takes one row's geometry and another row's box, or another lake's
    geometry) or an unknown relation keeps the UDF atom and its rows."""
    from pyspark.errors import AnalysisException

    from geoparquet_python_spark.geo.functions import register_sql
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql, rewrite_spatial_sql

    base = _skip_lake_df(spark)
    out = str(tmp_path / "exact")
    gio.write_geoparquet(base, out)
    lake = gio.read_geoparquet(spark, out)
    lake.createOrReplaceTempView("skip_sql_lake")
    other = str(tmp_path / "other")
    gio.write_geoparquet(
        base.withColumn("geometry", F.when(F.col("id") % 3 == 0, F.lit(_FAR))
                        .otherwise(F.col("geometry"))),
        other,
    )
    gio.read_geoparquet(spark, other).createOrReplaceTempView("skip_sql_other")
    _wide(lake).select(F.col("id").alias("cid"), "bbox").createOrReplaceTempView(
        "skip_sql_coarse")
    register_sql(spark)
    atom = "ST_EnvelopeIntersects({g}, -1.0, -3.0, 2.0, 3.5)".format
    want = _truth(lake, _SKIP_WIN)
    for sql in [
        f"SELECT id FROM skip_sql_lake WHERE {atom(g='geometry')}",
        f"SELECT id FROM (SELECT id, geometry, bbox FROM skip_sql_lake) "
        f"WHERE {atom(g='geometry')}",
        f"SELECT id FROM skip_sql_lake t(id, geometry, bbox) WHERE {atom(g='geometry')}",
        f"SELECT id FROM skip_sql_lake WHERE {atom(g='geometry')} GROUP BY id",
    ]:
        q = geo_sql(spark, sql)
        assert _udf_nodes(q) == 0, sql
        assert _ids(q) == want, sql

    def inner(sql):  # the rows a derived table hands to the atom
        return _truth(spark.sql(sql), _SKIP_WIN)

    self_join = ("SELECT a.id, a.geometry, b.bbox FROM skip_sql_lake a "
                 "JOIN skip_sql_lake b ON a.id = b.id + 1")
    two_lakes = ("SELECT a.id, b.geometry, a.bbox FROM skip_sql_lake a "
                 "JOIN skip_sql_other b USING (id)")
    far = _truth(lake.withColumn("geometry", F.lit(_FAR)), _SKIP_WIN)
    assert far == [] and want  # the atom decides these rows, not the box
    for sql, rows in [
        (f"SELECT t.id FROM skip_sql_lake t WHERE {atom(g='t.geometry')}", want),
        (f"WITH c AS (SELECT * FROM skip_sql_lake) SELECT id FROM c "
         f"WHERE {atom(g='geometry')}", want),
        ("SELECT id FROM (SELECT id, bbox, ST_Point(500.0D, 500.0D) AS geometry "
         f"FROM skip_sql_lake) WHERE {atom(g='geometry')}", far),
        ("SELECT t.id FROM (SELECT id, geometry FROM skip_sql_lake) t, skip_sql_coarse c "
         f"WHERE t.id = c.cid AND {atom(g='geometry')}", _truth(lake, _SKIP_WIN, bbox=False)),
        ("SELECT id FROM (SELECT l.id, l.bbox, t.geometry FROM skip_sql_lake l "
         "LATERAL VIEW explode(array(ST_Point(500.0D, 500.0D))) t AS geometry) "
         f"WHERE {atom(g='geometry')}", far),
        (f"SELECT id FROM ({self_join}) WHERE {atom(g='geometry')}", inner(self_join)),
        (f"SELECT id FROM ({two_lakes}) WHERE {atom(g='geometry')}", inner(two_lakes)),
    ]:
        q = geo_sql(spark, sql)
        assert _udf_nodes(q) >= 1, sql
        assert _ids(q) == rows, sql
    for join in (self_join, two_lakes):  # dropping the atom there would be wrong
        sql = f"SELECT id FROM ({join}) WHERE {atom(g='geometry')}"
        dropped = spark.sql(rewrite_spatial_sql(sql, exact=frozenset({"geometry"})))
        assert _ids(dropped) != inner(join)
    with pytest.raises(AnalysisException):
        geo_sql(spark, f"SELECT id FROM no_such_view WHERE {atom(g='geometry')}")
    with pytest.raises(AnalysisException):  # the name is not visible there
        geo_sql(spark, "SELECT id FROM (SELECT id, bbox FROM skip_sql_lake) "
                f"WHERE {atom(g='geometry')}")


def test_lake_rewritten_in_place_keeps_the_refine(spark, tmp_path):
    """A frame and a view read before the lake's files were rewritten
    in place (same file names, now with an over-approximating given
    covering) no longer skip the refine: the vouched files changed."""
    from geoparquet_python_spark.geo.sqlrewrite import geo_sql

    out = str(tmp_path / "lake")
    base = _skip_lake_df(spark)
    gio.write_geoparquet(base, out)
    lake = gio.read_geoparquet(spark, out)
    lake.createOrReplaceTempView("skip_rewritten")
    assert covering.is_exact(lake, "geometry", "bbox")
    names = sorted(p.name for p in (tmp_path / "lake").glob("*.parquet"))
    gio.write_geoparquet(_wide(base), out)
    assert sorted(p.name for p in (tmp_path / "lake").glob("*.parquet")) == names
    assert not covering.is_exact(lake, "geometry", "bbox")
    assert _udf_nodes(_swf(lake)) >= 1
    assert _udf_nodes(geo_sql(spark, _SKIP_SQL[0].format(v="skip_rewritten"))) >= 1
    fresh = gio.read_geoparquet(spark, out)
    assert _ids(_swf(fresh)) == _truth(fresh, _SKIP_WIN)


def test_rewrite_with_exact_identifiers_drops_only_their_atoms():
    """Text-level: the default (no exact identifiers) output is the plain
    rewrite; an exact identifier's atom becomes the covering conjuncts
    alone, other atoms keep the UDF."""
    from geoparquet_python_spark.geo.sqlrewrite import rewrite_spatial_sql

    sql = ("SELECT * FROM t WHERE ST_EnvelopeIntersects(g, 0, 0, 1, 1) "
           "OR ST_EnvelopeIntersects(h, 0, 0, 1, 1)")
    assert rewrite_spatial_sql(sql, exact=frozenset()) == rewrite_spatial_sql(sql)
    out = rewrite_spatial_sql(sql, exact=frozenset({"g"}))
    assert "ST_EnvelopeIntersects(g" not in out
    assert out.count("ST_EnvelopeIntersects(h, 0, 0, 1, 1)") == 1
    assert ("WHERE (bbox.xmin <= 1 AND bbox.xmax >= 0 AND bbox.ymin <= 1 AND "
            "bbox.ymax >= 0 AND (g IS NULL OR TRUE)) OR (bbox.xmin <= 1") in out
