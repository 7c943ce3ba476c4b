"""The benchmark's workloads. Each is a closed loop with one client:
the next op is issued only after the previous one finished and was
checked. ``--seed`` fixes the op schedule and any generated data; the
engine only ever sees the generated inputs.

A workload provides:

* ``prepare(env)`` - untimed data generation, excluded from ``setup_s``;
* ``prepare_oracles(env)`` - untimed independent answers, also excluded;
* ``warmup_ops(rng)`` - one op of every type, run once inside set-up;
* ``round(rng)`` - one seeded round of timed ops; every round holds
  the same multiset of op types, so runs with different seeds do the
  same work in a different order;
* ``run(env, op)`` - the timed op, including its correctness check;
  returns ``(ok, result_rows, detail)``;
* ``after(env, op, rec)`` - untimed clean-up and bookkeeping;
* ``layer_metrics()`` - traced runs: per-layer metrics the workload
  measures itself after the timed loop.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import math
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

import geodata

# Enough samples that a tail percentile with 10 samples beyond it exists.
MIN_OPS = 12


@dataclass(frozen=True)
class Op:
    kind: str  # "query", "write" or "read"
    name: str  # query name, "write_geoparquet", "read.filter" or "read.sql"
    window: tuple[float, float, float, float] | None = None


class Env:
    """Everything an op needs: the session, the tracer, directories and
    (traced runs only) the Spark job group of the running op."""

    def __init__(self, spark, tracer, work_dir: str, work_root: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.work_root = work_root
        self.seed = seed
        self.tables_dir: str | None = None
        self.op_index: int | None = None
        self.group_calls_s = 0.0  # time spent setting job groups

    def _set_group(self, group: str | None) -> None:
        t = time.perf_counter()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
        self.group_calls_s += time.perf_counter() - t

    def groups(self, index: int) -> list[str]:
        return [f"pb{index}-build", f"pb{index}-exec"]

    @contextmanager
    def op_groups(self, index: int):
        """Traced runs: jobs of op ``index`` run under ``pb<index>-exec``
        unless a ``jobs("build")`` block is open."""
        if not self.tracer.enabled:
            yield
            return
        self.op_index = index
        self._set_group(f"pb{index}-exec")
        try:
            yield
        finally:
            self._set_group(None)
            self.op_index = None

    @contextmanager
    def jobs(self, phase: str):
        if self.op_index is None:
            yield
            return
        self._set_group(f"pb{self.op_index}-{phase}")
        try:
            yield
        finally:
            self._set_group(f"pb{self.op_index}-exec")


# ---------------------------------------------------------------- queries


class QueryWorkload:
    """Registered engine queries over the generated sf0.1 tables, each
    checked by comparing ``testing.spark_hash_summary`` of its result
    with ``testing.duck_hash_summary`` of its DuckDB oracle."""

    needs_tables = True

    def __init__(self, name: str, queries: list[str]):
        self.name = name
        self.queries = list(queries)
        self.oracle: dict[str, list] = {}

    def prepare(self, env: Env) -> None:
        pass

    def _oracle_key(self, env: Env, sql: str) -> str:
        from geoparquet_python_spark import testing

        h = hashlib.sha256()
        for part in (env.tables_dir, inspect.getsource(testing), sql):
            h.update(part.encode())
        return h.hexdigest()

    def prepare_oracles(self, env: Env) -> None:
        """DuckDB answers, computed once per checkout and table version
        and cached next to the generated tables."""
        from geoparquet_python_spark import registry, testing

        path = os.path.join(env.work_root, "oracles.json")
        try:
            with open(path) as f:
                cache = json.load(f)
        except (OSError, ValueError):
            cache = {}
        con = None
        for q in self.queries:
            key = self._oracle_key(env, registry.ORACLES[q])
            if key not in cache:
                if con is None:
                    con = testing.duckdb_connect(env.tables_dir)
                    con.execute("SET memory_limit='3GB'")
                summary = testing.duck_hash_summary(con, registry.ORACLES[q])
                if summary is None:
                    raise RuntimeError(f"{q}: oracle result is not hash-comparable")
                cache[key] = list(summary)
            self.oracle[q] = cache[key]
        if con is not None:
            con.close()
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, path)

    def warmup_ops(self, rng: np.random.Generator) -> list[Op]:
        return [Op("query", q) for q in self.queries]

    def round(self, rng: np.random.Generator) -> list[Op]:
        return [Op("query", self.queries[i]) for i in rng.permutation(len(self.queries))]

    def run(self, env: Env, op: Op):
        from geoparquet_python_spark import registry, testing

        tr = env.tracer
        with tr.span("registry.build"), env.jobs("build"):
            df = registry.QUERIES[op.name](env.spark, env.tables_dir)
        with tr.span("spark.execute"):
            got = testing.spark_hash_summary(df)
        with tr.span("check"):
            want = self.oracle[op.name]
            ok = got is not None and list(got) == want
        if ok:
            return True, got[0], ""
        return False, got[0] if got else 0, f"hash {got and got[:3]} != oracle {want[:3]}"

    def after(self, env: Env, op: Op, rec: dict) -> None:
        pass

    def layer_metrics(self) -> dict:
        return {}


# Three op types per round with well-separated latencies: the median of
# 12 ops then falls inside the middle type instead of on the boundary
# between two types, where it would swing with either one.
STAR_OLAP = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q_asof_purchase_click",
]

LLM_CURATION = [
    "q_knn_label_propagation",
    "q_repetition_signals",
    "q_dsir_importance_selection",
]


# --------------------------------------------------------------- geo lake


class GeoLakeWorkload:
    """GeoParquet sink and source over seeded geometries: writes with a
    bbox covering into a fresh directory, and window reads over one
    random-order lake, half through ``spatial_window_filter`` and half
    through ``geo_sql``. Every result is checked against numpy truth."""

    name = "geo_lake"
    needs_tables = False
    ROWS = 100_000
    SOURCE_FILES = 8
    PATHS = ("read.filter", "read.sql")

    def __init__(self):
        self.geo: geodata.GeoInput | None = None
        self.source = ""
        self.lake: str | None = None
        self.lake_row_groups: np.ndarray | None = None  # (n, 4) min/max stats
        self._writes = 0
        self._out = ""

    def prepare(self, env: Env) -> None:
        import pyarrow.parquet as pq

        self.geo = geodata.generate(env.seed, self.ROWS)
        self.source = os.path.join(env.work_dir, "source")
        os.makedirs(self.source)
        n, k = self.ROWS, self.SOURCE_FILES
        for i in range(k):
            lo, hi = i * n // k, (i + 1) * n // k
            pq.write_table(
                self.geo.table.slice(lo, hi - lo),
                os.path.join(self.source, f"part-{i}.parquet"),
            )

    def prepare_oracles(self, env: Env) -> None:
        pass  # truth comes with the generated arrays

    def _reads(self, rng: np.random.Generator) -> list[Op]:
        """One read per path, each over a window of a seeded share."""
        shares = geodata.WINDOW_SHARES
        return [
            Op("read", path, geodata.draw_window(rng, shares[rng.integers(len(shares))]))
            for path in self.PATHS
        ]

    def warmup_ops(self, rng: np.random.Generator) -> list[Op]:
        return [Op("write", "write_geoparquet"), *self._reads(rng)]

    def round(self, rng: np.random.Generator) -> list[Op]:
        """One write and one read per path (1 write : 2 reads)."""
        ops = [Op("write", "write_geoparquet"), *self._reads(rng)]
        return [ops[i] for i in rng.permutation(len(ops))]

    def run(self, env: Env, op: Op):
        if op.kind == "write":
            return self._write(env)
        return self._read(env, op)

    def _write(self, env: Env):
        from geoparquet_python_spark.geo import io as gio

        tr = env.tracer
        self._writes += 1
        self._out = os.path.join(env.work_dir, "writes", f"w{self._writes}")
        with tr.span("geo_io.write_geoparquet"):
            rows = gio.write_geoparquet(env.spark.read.parquet(self.source), self._out)
        with tr.span("check"):
            with tr.span("geo_io.geo_metadata"):
                meta = gio.geo_metadata(self._out)
            col = (meta or {}).get("columns", {}).get("geometry", {})
            want = (self.geo.rows, self.geo.bbox(), self.geo.geometry_types())
            got = (rows, col.get("bbox"), col.get("geometry_types"))
        if got == want:
            return True, rows, ""
        return False, rows, f"write (rows, bbox, types) {got} != {want}"

    def _read(self, env: Env, op: Op):
        from pyspark.sql import functions as F

        from geoparquet_python_spark.geo import functions as gf
        from geoparquet_python_spark.geo import io as gio
        from geoparquet_python_spark.geo.sqlrewrite import geo_sql

        tr = env.tracer
        with tr.span("geo_io.read_geoparquet"):
            df = gio.read_geoparquet(env.spark, self.lake)
        if op.name == "read.filter":
            with tr.span("geo_functions.spatial_window_filter"):
                hits = gf.spatial_window_filter(df, op.window)
            env_col = gf.st_envelope(F.col("geometry"))
            q = hits.select(
                env_col.alias("e"), gf.st_area(F.col("geometry")).alias("a")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.min("e.xmin").alias("xmin"), F.min("e.ymin").alias("ymin"),
                F.max("e.xmax").alias("xmax"), F.max("e.ymax").alias("ymax"),
                F.sum("a").alias("area"),
            )
        else:
            df.createOrReplaceTempView("lake")
            x0, y0, x1, y1 = op.window
            with tr.span("geo_sqlrewrite.geo_sql"):
                q = geo_sql(
                    env.spark,
                    "SELECT count(*) AS n, min(e.xmin) AS xmin, min(e.ymin) AS ymin, "
                    "max(e.xmax) AS xmax, max(e.ymax) AS ymax, sum(a) AS area FROM "
                    "(SELECT ST_Envelope(geometry) AS e, ST_Area(geometry) AS a "
                    f"FROM lake WHERE ST_EnvelopeIntersects(geometry, {x0!r}, {y0!r}, "
                    f"{x1!r}, {y1!r}))",
                )
        with tr.span("spark.execute"):
            row = q.collect()[0].asDict()
        with tr.span("check"):
            want = self.geo.window_truth(op.window)
            ok = all(row[k] == want[k] for k in ("n", "xmin", "ymin", "xmax", "ymax"))
            if want["n"]:
                ok = ok and math.isclose(
                    row["area"], want["area"], rel_tol=1e-9,
                    abs_tol=geodata.AREA_ABS_TOL * want["polygons"],
                )
        if ok:
            return True, row["n"], ""
        return False, row["n"], f"window {op.window}: {row} != {want}"

    def after(self, env: Env, op: Op, rec: dict) -> None:
        import pyarrow.parquet as pq

        if op.kind != "write":
            if env.tracer.enabled and self.lake_row_groups is not None:
                rec["row_groups"] = len(self.lake_row_groups)
                rec["row_groups_pruneable"] = self._pruneable(op.window)
            return
        files = sorted(glob.glob(os.path.join(self._out, "*.parquet")))
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(f) for f in files)
        rec["row_groups"] = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        if self.lake is None and rec["ok"]:
            self.lake = self._out  # the set-up write becomes the lake reads scan
            self.lake_row_groups = _bbox_stats(files)
        else:
            shutil.rmtree(self._out, ignore_errors=True)

    def _pruneable(self, window) -> int:
        x0, y0, x1, y1 = window
        s = self.lake_row_groups
        miss = (s[:, 0] > x1) | (s[:, 2] < x0) | (s[:, 1] > y1) | (s[:, 3] < y0)
        return int(miss.sum())

    def layer_metrics(self) -> dict:
        """Kernel rates of ``geo.wkb`` and the ``geo.functions`` UDF
        bodies, called directly on the generated geometries."""
        import pandas as pd

        from geoparquet_python_spark.geo import functions as gf
        from geoparquet_python_spark.geo import wkb

        g = self.geo
        pts = ~g.is_polygon
        x, y = g.xmin[pts], g.ymin[pts]
        enc = wkb.encode_points(x, y)
        geoms = g.table.column("geometry").to_pylist()
        batch = 10_000  # Arrow batch size of the pandas UDFs
        return {
            "geo_wkb.encode_points_rows_per_s": _rate(lambda: wkb.encode_points(x, y), len(x)),
            "geo_wkb.decode_points_rows_per_s": _rate(lambda: wkb.decode_points(enc), len(enc)),
            "geo_wkb.decode_rows_per_s": _rate(
                lambda: [wkb.decode(v) for v in geoms[:batch]], batch
            ),
            "geo_functions.st_point_rows_per_s": _rate(
                lambda: gf.st_point.func(pd.Series(x[:batch]), pd.Series(y[:batch])), batch
            ),
            "geo_functions.st_envelope_rows_per_s": _rate(
                lambda: gf.st_envelope.func(pd.Series(geoms[:batch])), batch
            ),
        }


def _rate(fn, rows: int, reps: int = 5) -> float:
    """Median rows per second of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return rows / float(np.median(times))


def _bbox_stats(files: list[str]) -> np.ndarray:
    """Per row group: (min xmin, min ymin, max xmax, max ymax) of the
    bbox covering column, from the parquet footers."""
    import pyarrow.parquet as pq

    rows = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        paths = [md.schema.column(i).path for i in range(md.num_columns)]
        idx = {p: i for i, p in enumerate(paths)}
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            rows.append((
                rg.column(idx["bbox.xmin"]).statistics.min,
                rg.column(idx["bbox.ymin"]).statistics.min,
                rg.column(idx["bbox.xmax"]).statistics.max,
                rg.column(idx["bbox.ymax"]).statistics.max,
            ))
    return np.array(rows, dtype=float).reshape(-1, 4)


WORKLOADS = {
    "star_olap": lambda: QueryWorkload("star_olap", STAR_OLAP),
    "llm_curation": lambda: QueryWorkload("llm_curation", LLM_CURATION),
    "geo_lake": GeoLakeWorkload,
}
