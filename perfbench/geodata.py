"""Seeded geometry input for the ``geo_lake`` workload, and the numpy
ground truth every geo op is checked against.

Rows arrive in random order: about 90 % points, drawn from a mix of a
uniform background and Gaussian "city" clusters, and about 10 % small
convex polygons around such points. Points are encoded with
``geo.wkb.encode_points`` and polygons with ``geo.wkb.encode``; the
truth (envelope and area of every row) is computed here from the
coordinate arrays, never from the engine's decoders.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

EXTENT = (-180.0, -90.0, 180.0, 90.0)
POLYGON_SHARE = 0.10
CLUSTER_SHARE = 0.60
N_CLUSTERS = 24
# A read window covers one of these shares of the extent's area.
WINDOW_SHARES = (0.001, 0.01, 0.1)
# Rounding bound of a float64 shoelace area over raw coordinates
# (|x| <= 180, |y| <= 90, at most 9 ring vertices): 2 * 9 products of
# error <= 180 * 90 * 2**-52, summed, with headroom.
AREA_ABS_TOL = 2e-10


@dataclass
class GeoInput:
    """Generated rows plus per-row truth, all aligned by position."""

    table: pa.Table  # columns: id int64, geometry binary (WKB)
    xmin: np.ndarray
    ymin: np.ndarray
    xmax: np.ndarray
    ymax: np.ndarray
    area: np.ndarray
    is_polygon: np.ndarray

    @property
    def rows(self) -> int:
        return self.table.num_rows

    def bbox(self) -> list[float]:
        return [
            float(self.xmin.min()), float(self.ymin.min()),
            float(self.xmax.max()), float(self.ymax.max()),
        ]

    def geometry_types(self) -> list[str]:
        kinds = {"Point"} if (~self.is_polygon).any() else set()
        return sorted(kinds | ({"Polygon"} if self.is_polygon.any() else set()))

    def window_truth(self, window: tuple[float, float, float, float]) -> dict:
        """Count, envelope extent, total area and polygon count of the
        rows whose envelope intersects the closed window."""
        x0, y0, x1, y1 = window
        hit = (
            (self.xmin <= x1) & (self.xmax >= x0)
            & (self.ymin <= y1) & (self.ymax >= y0)
        )
        n = int(hit.sum())
        if n == 0:
            return {"n": 0, "xmin": None, "ymin": None, "xmax": None,
                    "ymax": None, "area": None, "polygons": 0}
        return {
            "n": n,
            "xmin": float(self.xmin[hit].min()),
            "ymin": float(self.ymin[hit].min()),
            "xmax": float(self.xmax[hit].max()),
            "ymax": float(self.ymax[hit].max()),
            "area": float(self.area[hit].sum()),
            "polygons": int(self.is_polygon[hit].sum()),
        }


def _points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = EXTENT
    cx = rng.uniform(x0 + 10, x1 - 10, N_CLUSTERS)
    cy = rng.uniform(y0 + 10, y1 - 10, N_CLUSTERS)
    sigma = rng.uniform(0.3, 3.0, N_CLUSTERS)
    in_cluster = rng.random(n) < CLUSTER_SHARE
    c = rng.integers(0, N_CLUSTERS, n)
    x = np.where(
        in_cluster, cx[c] + sigma[c] * rng.standard_normal(n), rng.uniform(x0, x1, n)
    )
    y = np.where(
        in_cluster, cy[c] + sigma[c] * rng.standard_normal(n), rng.uniform(y0, y1, n)
    )
    return np.clip(x, x0, x1), np.clip(y, y0, y1)


def generate(seed: int, rows: int) -> GeoInput:
    """``rows`` geometries drawn from ``seed``; the same seed always
    gives byte-identical WKB and truth arrays."""
    from geoparquet_python_spark.geo import wkb

    rng = np.random.default_rng(seed)
    x, y = _points(rng, rows)
    is_poly = rng.random(rows) < POLYGON_SHARE
    xmin, xmax, ymin, ymax = x.copy(), x.copy(), y.copy(), y.copy()
    area = np.zeros(rows)
    geoms = wkb.encode_points(x, y)
    for i in np.flatnonzero(is_poly):
        # Convex polygon: k vertices at sorted angles on a small circle.
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
        r = float(rng.uniform(0.001, 0.05))
        ring = np.column_stack([x[i] + r * np.cos(ang), y[i] + r * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        geoms[i] = wkb.encode(("Polygon", [ring]))
        xmin[i], ymin[i] = ring.min(axis=0)
        xmax[i], ymax[i] = ring.max(axis=0)
        # Shoelace on centred coordinates: no cancellation, unlike a
        # decoder working on raw lon/lat (see AREA_ABS_TOL).
        rx, ry = ring[:, 0] - x[i], ring[:, 1] - y[i]
        area[i] = abs(float(np.dot(rx[:-1], ry[1:]) - np.dot(ry[:-1], rx[1:]))) / 2.0
    order = rng.permutation(rows)  # random arrival order
    table = pa.table({
        "id": pa.array(np.arange(rows, dtype=np.int64)),
        "geometry": pa.array([geoms[i] for i in order], pa.binary()),
    })
    return GeoInput(
        table, xmin[order], ymin[order], xmax[order], ymax[order],
        area[order], is_poly[order],
    )


def draw_window(
    rng: np.random.Generator, share: float
) -> tuple[float, float, float, float]:
    """A query window covering ``share`` of the extent's area, placed
    uniformly inside it."""
    x0, y0, x1, y1 = EXTENT
    w = (x1 - x0) * np.sqrt(share)
    h = (y1 - y0) * np.sqrt(share)
    wx = float(rng.uniform(x0, x1 - w))
    wy = float(rng.uniform(y0, y1 - h))
    # Round to 6 decimals so the SQL text carries the exact same bounds.
    return (round(wx, 6), round(wy, 6), round(wx + w, 6), round(wy + h, 6))
