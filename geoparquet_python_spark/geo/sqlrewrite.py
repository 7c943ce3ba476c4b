"""Spatial predicate pushdown for SQL-STRING users (SURVEY.md §4.3's
last deferred row, closed at the API layer).

The DataFrame API already rewrites window predicates into sargable
covering-column comparisons (geo.functions.spatial_window_filter). SQL
strings couldn't benefit — a true Catalyst rule would need a JVM
extension — so ``geo_sql`` does the same rewrite on the SQL text
before handing it to ``spark.sql``:

    ST_EnvelopeIntersects(geom, x0, y0, x1, y1)
      ⇢ (bbox.xmin <= x1 AND bbox.xmax >= x0 AND
         bbox.ymin <= y1 AND bbox.ymax >= y0 AND
         ST_EnvelopeIntersects(geom, x0, y0, x1, y1))

Soundness: the rewrite is ATOM-local — it conjoins a predicate that
the atom already implies (the covering box contains the geometry's
envelope, so envelope-intersection implies covering-box overlap), and
``A ⇒ B`` gives ``A ≡ A ∧ B``. An implied-conjunct rewrite of an atom
is an equivalence in ANY boolean context (under AND, OR, NOT alike),
so no placement analysis is needed. The payoff: the injected
comparisons are plain struct-field conjuncts, which Catalyst pushes
into Parquet row-group pruning (PushedFilters) — whole row groups are
skipped before one WKB byte is read, exactly what the JVM Catalyst
rule would achieve. The UDF atom stays behind as the per-row refine
for coarser-than-envelope coverings.

When the covering EQUALS the envelope (a lake ``write_geoparquet``
built and ``read_geoparquet`` read, see ``geo.covering``), the atom ≡
the injected conjuncts, so the atom is dropped and the query plans no
Arrow-UDF stage for it. Both sides compare the same float64 bounds
from ``wkb.bounds``, which never gives a non-NULL geometry a NaN bound
(NaN coordinates are skipped, an empty geometry is (inf, inf, -inf,
-inf)); a NULL geometry has all four covering fields NULL, so the
conjuncts are NULL where the atom is. The equivalence is row by row in
three-valued logic, so it holds in any boolean context, like the
implied-conjunct rewrite above. In place of the atom stays
``(geom IS NULL OR TRUE)``: it keeps the name resolved in the atom's
scope (a statement that cannot see ``geom`` there still fails) and the
optimizer folds it away.

``geo_sql`` decides it on the analyzed plan, not the text: it analyzes
the statement with every unqualified atom dropped and keeps that only
if ``covering.plan_is_exact`` accepts the plan for each such name (one
chain over one vouched scan, in which both names only ever mean that
scan's columns of one row). Otherwise, and for a qualified name, a
statement that is not a SELECT (a command runs when analyzed), or any
failure, it runs the plain rewrite with every atom kept. A join, a set
operation, a CTE or a subquery always keeps the atom.

Limits (documented, not hidden): the pattern is matched textually, so
the window bounds must be NUMERIC LITERALS (the Catalyst rule would
also handle foldable expressions), and the frame the query reads must
expose the covering column under ``bbox_col``. Atoms that don't match
are left untouched — the query still runs, just without pruning.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from geoparquet_python_spark.geo import covering
from geoparquet_python_spark.geo.functions import register_sql

_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_PAT = re.compile(
    r"ST_EnvelopeIntersects\(\s*([A-Za-z_][\w.]*)\s*,\s*"
    rf"({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*\)"
)
# A statement spark.sql may analyze on trial: a query, never a command
# (spark.sql runs a command as soon as it analyzes it).
_QUERY = re.compile(r"[\s(]*SELECT\b", re.I)


def rewrite_spatial_sql(
    sql: str, bbox_col: str = "bbox", exact: frozenset[str] = frozenset()
) -> str:
    """Inject sargable covering-column conjuncts next to every
    ST_EnvelopeIntersects atom with literal bounds. Pure text → text;
    see module docstring for the soundness argument. An atom whose
    geometry identifier is in ``exact`` (the covering is its exact
    envelope) is replaced by the conjuncts alone, plus a reference to
    the identifier that is always TRUE."""

    def _one(m: re.Match) -> str:
        geom, x0, y0, x1, y1 = m.groups()
        box = (
            f"{bbox_col}.xmin <= {x1} AND {bbox_col}.xmax >= {x0}"
            f" AND {bbox_col}.ymin <= {y1} AND {bbox_col}.ymax >= {y0}"
        )
        if geom in exact:
            return f"({box} AND ({geom} IS NULL OR TRUE))"
        return f"({box} AND {m.group(0)})"

    return _PAT.sub(_one, sql)


def geo_sql(
    spark: SparkSession, sql: str, bbox_col: str = "bbox"
) -> DataFrame:
    """``spark.sql`` for spatial queries: registers the ST_* UDFs (once
    per session) and runs the pushdown-rewritten statement, without the
    UDF atoms whose covering the analyzed plan shows to be the exact
    envelope."""
    register_sql(spark)
    geoms = frozenset(m.group(1) for m in _PAT.finditer(sql) if "." not in m.group(1))
    if geoms and _QUERY.match(sql):
        try:
            df = spark.sql(rewrite_spatial_sql(sql, bbox_col=bbox_col, exact=geoms))
            plan = df._jdf.queryExecution().analyzed()
            if all(covering.plan_is_exact(plan, g, bbox_col) for g in geoms):
                return df
        except Exception:
            pass  # the plain statement below raises what Spark raises
    return spark.sql(rewrite_spatial_sql(sql, bbox_col=bbox_col))
