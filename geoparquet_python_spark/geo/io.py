"""GeoParquet source/sink (SURVEY.md §2.A rows A1/A2) — the reference's
entire public API re-expressed for Spark:

* reference ``gdf.to_geoparquet(path)`` (geoparquet/__init__.py:22–45≈):
  single file, eager, per-row WKB encode, geo metadata stamped into the
  Parquet footer on one process.
* reference ``read_geoparquet(path)`` (geoparquet/__init__.py:47–70≈):
  single file, eager decode of every geometry row.

Spark re-design: Spark's parquet sink cannot stamp footer key-value
metadata, so the writer runs as ``mapInArrow`` — every partition writes
its own footer-correct part file with pyarrow IN PARALLEL on the
executors (one pass, no post-hoc rewrite; at 100 TB there is no
driver-side step proportional to data size). The reader is a plain
``spark.read.parquet`` (vectorized scan, pushdown intact); only the
footer metadata hop is pyarrow-on-the-driver, reading ONE footer.

Geometry stays WKB ``BinaryType`` end-to-end; nothing decodes at scan
time (decode is per-operator, SURVEY.md §1.1). An optional GeoParquet
1.1 ``bbox`` covering struct is materialized at write, and declared in
the footer's ``covering`` entry, so spatial predicates push down to
row-group stats (§4.3). The writer makes ONE Python hop: the same
``mapInArrow`` pass that stamps the footer computes the covering from
each Arrow batch's geometry buffers (``wkb.bounds``), so the geometry
column is not shipped to Python a second time by a separate UDF stage.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections.abc import Iterator
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoparquet_python_spark.geo import wkb
from geoparquet_python_spark.geo.functions import BBOX_FIELDS, st_envelope

GEO_KEY = b"geo"
# Pre-spec key the reference used (SURVEY.md §0.2 — exact name uncertain,
# tolerate it and the spec form on read).
LEGACY_KEY = b"geometry_fields"

SPEC_VERSION = "1.1.0"
COVERING_COL = "bbox"  # the GeoParquet 1.1 bbox covering column


_WKB_TYPE_NAMES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}


def _geo_column_entry(
    crs: Any,
    bbox: list | None,
    geometry_types: list[str] | None = None,
    covering: bool = False,
) -> dict[str, Any]:
    col: dict[str, Any] = {"encoding": "WKB", "geometry_types": geometry_types or []}
    if crs is not None:
        col["crs"] = crs
    if bbox is not None:
        col["bbox"] = bbox
    if covering:
        # GeoParquet 1.1 covering: where each bound lives in the bbox column.
        col["covering"] = {
            "bbox": {f: [COVERING_COL, f] for f in BBOX_FIELDS}
        }
    return col


def _geo_metadata_json(
    geometry_col: str,
    crs: Any,
    bbox: list | None,
    geometry_types: list[str] | None = None,
    extra_cols: dict[str, dict] | None = None,
    covering: bool = False,
) -> bytes:
    """Spec `geo` doc: the primary column entry plus any SECONDARY
    geometry columns (GeoParquet allows several; exactly one is
    primary_column). Secondaries carry encoding/crs/geometry_types;
    the dataset bbox and the covering declaration ride on the primary."""
    doc = {
        "version": SPEC_VERSION,
        "primary_column": geometry_col,
        "columns": {
            geometry_col: _geo_column_entry(crs, bbox, geometry_types, covering),
            **(extra_cols or {}),
        },
    }
    return json.dumps(doc).encode("utf-8")


def _wkb_type_codes(arr: pa.Array) -> set[int]:
    """Distinct raw WKB geometry-type codes of a pyarrow binary array,
    read from its buffers by ``wkb.type_codes`` (no per-row Python)."""
    codes = wkb.type_codes(arr)
    return set(int(c) for c in np.unique(codes[codes >= 0]))


def _type_code_names(codes: set[int]) -> list[str]:
    """Spec geometry_types names from raw WKB codes; ISO Z/M/ZM
    variants (1000/2000/3000 offsets) map to the suffixed spec form."""
    names = []
    for c in sorted(codes):
        base = _WKB_TYPE_NAMES.get(c % 1000)
        if base is None:
            continue
        suffix = {0: "", 1: " Z", 2: " M", 3: " ZM"}.get(c // 1000, "")
        names.append(base + suffix)
    return sorted(set(names))


def add_bbox_column(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Materialize the GeoParquet-1.1 covering column: a
    {xmin,ymin,xmax,ymax} struct. Plain comparisons against its fields
    are pushed to Parquet row-group stats by Spark's scan — this column
    IS the spatial index at 100 TB. ``write_geoparquet`` builds the same
    column inside its own pass (``_covering_column``) instead."""
    return df.withColumn(COVERING_COL, st_envelope(F.col(geometry_col)))


def _covering_column(geometry: pa.Array) -> pa.StructArray:
    """The covering struct of one Arrow batch, from ``wkb.bounds``. NaN
    (null geometry) bounds become null fields, as Spark makes them when
    ``st_envelope`` returns the same values through a pandas UDF."""
    b = wkb.bounds(geometry)
    return pa.StructArray.from_arrays(
        [pa.array(b[:, i], pa.float64(), from_pandas=True) for i in range(4)],
        names=BBOX_FIELDS,
    )


def write_geoparquet(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    crs: Any = "OGC:CRS84",
    bbox_covering: bool = True,
    secondary_geometry_cols: list[str] | None = None,
) -> int:
    """Distributed GeoParquet sink; returns rows written.

    Each input partition becomes one part file whose footer carries the
    OGC ``geo`` key-value metadata — written by pyarrow inside
    ``mapInArrow``, so the stamping is executor-side and single-pass
    (the reference's ``replace_schema_metadata`` + ``pq.write_table``,
    geoparquet/__init__.py:35–40≈, parallelized). With
    ``bbox_covering`` (and no ``bbox`` column already in ``df``) the
    covering struct is computed in that same pass from each batch's
    geometry buffers and appended as the last column: the write has one
    Python hop and no ``ArrowEvalPython`` stage.

    Task-commit protocol (retries/speculation are routine at 100 TB):
    each attempt writes to a hidden temp name derived from
    (partitionId, taskAttemptId), then atomically renames to the
    canonical ``part-{partitionId}.parquet`` on close. Retried or
    speculative attempts of the same partition overwrite the SAME final
    name with identical content instead of leaving a second part file
    (the silent row-duplication failure of uuid naming). The rename is
    atomic on POSIX local/NFS filesystems; on an object store deploy
    this function's commit step is where an S3A-style committer slots
    in. An empty input still produces one schema-only part file, so the
    output directory is always a readable dataset."""
    secondary = list(secondary_geometry_cols or [])
    for c in [geometry_col, *secondary]:
        if c not in df.columns:
            raise ValueError(f"geometry column {c!r} not in {df.columns}")
    # The covering column is either given or computed per batch below.
    compute_covering = bbox_covering and COVERING_COL not in df.columns

    os.makedirs(path, exist_ok=True)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.taskAttemptId() if ctx is not None else uuid.uuid4().hex
        final = os.path.join(path, f"part-{pid:05d}.parquet")
        tmp = os.path.join(path, f".part-{pid:05d}-{attempt}.parquet.tmp")
        # Footer bbox/geometry_types are only known after the last row,
        # but pyarrow fixes schema metadata at writer construction — so
        # buffer the partition's batches (bounded by
        # spark.sql.files.maxPartitionBytes, the same bound any Arrow
        # exchange already has) and stamp true per-file stats at open.
        buffered: list[pa.RecordBatch] = []
        rows = 0
        ext = [float("inf")] * 2 + [float("-inf")] * 2  # xmin ymin xmax ymax
        codes: set[int] = set()
        sec_codes: dict[str, set[int]] = {c: set() for c in secondary}
        for batch in batches:
            if compute_covering:
                batch = batch.append_column(
                    COVERING_COL, _covering_column(batch.column(geometry_col))
                )
            buffered.append(batch)
            rows += batch.num_rows
            codes |= _wkb_type_codes(batch.column(geometry_col))
            for c in secondary:
                sec_codes[c] |= _wkb_type_codes(batch.column(c))
            if COVERING_COL in batch.schema.names:
                box = batch.column(COVERING_COL)
                for i, field in enumerate(BBOX_FIELDS):
                    lower = i < 2
                    v = (pc.min if lower else pc.max)(pc.struct_field(box, field)).as_py()
                    if v is not None:
                        ext[i] = min(ext[i], v) if lower else max(ext[i], v)
        bbox = ext if ext[0] <= ext[2] else None
        meta_json = _geo_metadata_json(
            geometry_col,
            crs,
            bbox,
            _type_code_names(codes),
            extra_cols={
                c: _geo_column_entry(crs, None, _type_code_names(sec_codes[c]))
                for c in secondary
            },
            covering=bbox_covering,
        )
        writer = None
        try:
            for batch in buffered:
                if writer is None:
                    schema = batch.schema.with_metadata(
                        {**(batch.schema.metadata or {}), GEO_KEY: meta_json}
                    )
                    writer = pq.ParquetWriter(tmp, schema)
                writer.write_batch(batch)
            if writer is not None:
                writer.close()
                os.replace(tmp, final)  # commit: atomic, last attempt wins
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)  # abort path: never leak half-written files
        yield pa.RecordBatch.from_pylist(
            [{"file": final, "rows": rows}] if rows else [],
            schema=pa.schema([("file", pa.string()), ("rows", pa.int64())]),
        )

    stats = df.mapInArrow(write_partition, "file string, rows long").collect()
    if not stats:
        # Every partition was empty: emit one schema-only part so the
        # directory is a valid (zero-row) GeoParquet dataset.
        tbl = df.limit(0).toArrow()
        if compute_covering:
            tbl = tbl.append_column(
                COVERING_COL, _covering_column(tbl.column(geometry_col).combine_chunks())
            )
        tbl = tbl.replace_schema_metadata(
            {**(tbl.schema.metadata or {}),
             GEO_KEY: _geo_metadata_json(
                 geometry_col, crs, None, [],
                 extra_cols={
                     c: _geo_column_entry(crs, None, []) for c in secondary
                 },
                 covering=bbox_covering,
             )}
        )
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        return 0
    return sum(r.rows for r in stats)


def geo_metadata(path: str) -> dict | None:
    """Parse geo metadata from the dataset's part-file footers. Accepts
    the OGC spec form (``geo``) and the reference's legacy pre-spec form
    (``geometry_fields`` — normalized into the spec shape).

    Each part file carries its own true ``bbox`` / ``geometry_types``
    (stamped executor-side at write); this merges them into the
    dataset-level extent and type union. Footer reads are KB-sized and
    O(num_files) on the driver — independent of data volume."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    merged: dict | None = None
    for f in files:
        md = pq.ParquetFile(f).schema_arrow.metadata or {}
        if GEO_KEY not in md:
            break
        doc = json.loads(md[GEO_KEY].decode("utf-8"))
        if merged is None:
            merged = doc
            continue
        # Merge EVERY geometry column's per-file stats (multi-geometry
        # datasets carry one entry per column; exactly one is primary).
        for cname, a in merged["columns"].items():
            b = doc.get("columns", {}).get(cname, {})
            a["geometry_types"] = sorted(
                set(a.get("geometry_types", []))
                | set(b.get("geometry_types", []))
            )
            ba, bb = a.get("bbox"), b.get("bbox")
            if ba and bb:
                a["bbox"] = [min(ba[0], bb[0]), min(ba[1], bb[1]),
                             max(ba[2], bb[2]), max(ba[3], bb[3])]
            elif bb:
                a["bbox"] = bb
    if merged is not None:
        return merged
    md = pq.ParquetFile(files[0]).schema_arrow.metadata or {}
    if LEGACY_KEY in md:
        legacy = json.loads(md[LEGACY_KEY].decode("utf-8"))
        if isinstance(legacy, list) and legacy:
            first = legacy[0]
            name = first.get("field_name", "geometry")
            return {
                "version": "legacy",
                "primary_column": name,
                "columns": {
                    name: {
                        "encoding": first.get("geometry_format", "wkb").upper(),
                        "geometry_types": [],
                        "crs": first.get("crs"),
                    }
                },
            }
    return None


def read_geoparquet(spark: SparkSession, path: str) -> DataFrame:
    """GeoParquet scan: vectorized Spark parquet read (pushdown/pruning
    intact); geo footer metadata (one driver-side footer read) attached
    to the geometry column's schema metadata. WKB stays binary — decode
    is lazy, per-operator (the reference decodes every row up front,
    geoparquet/__init__.py:60≈ — the 100 TB anti-pattern)."""
    df = spark.read.parquet(path)
    meta = geo_metadata(path)
    if meta is not None:
        # Attach metadata to EVERY geometry column the footer declares
        # (multi-geometry files are spec-legal; primary_column marks the
        # default one). The primary keeps an extra marker so consumers
        # can find it without re-reading footers.
        for cname, entry in meta["columns"].items():
            if cname in df.columns:
                df = df.withMetadata(
                    cname,
                    {
                        "geo": entry,
                        "geo_primary": cname == meta["primary_column"],
                    },
                )
    return df
