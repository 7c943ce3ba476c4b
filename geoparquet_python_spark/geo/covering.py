"""Exact coverings: when may a read skip the envelope refine?

``write_geoparquet`` computes the ``bbox`` covering of each row from
its own geometry buffers (``wkb.bounds``), so on a lake that writer
built the covering IS the float64 envelope of the primary geometry
(null fields for a null geometry), and it says so with a footer key.
The covering-column conjuncts then say exactly what the per-row
envelope refine says, and the refine (one Arrow-UDF stage per read)
can be dropped.

That is only true while a query compares one row's geometry with the
same row's covering, both as the files hold them. ``read_geoparquet``
records each part file that vouched for it (``mint``), with its size
and mtime, and tags the primary geometry column and the ``bbox`` column
with one per-read token (``TOKEN_KEY`` in each field's metadata).
``plan_is_exact`` then accepts an analyzed plan only when

* it is one chain of nodes over one file scan, with no subquery: the
  tree string has no ``:`` branch, so there is no join, union, CTE or
  subquery expression through which a second scan could bring its own
  columns;
* every file the scan reads was vouched for, for this geometry and
  covering column, and still has the size and mtime it had when its
  footer was read (a lake rewritten in place under the same file
  names loses the skip);
* every attribute of either name anywhere in the plan is the scan's
  own column, or an alias of an attribute of the same name that is one
  (Catalyst gives every new value a new exprId: a replaced column, a
  generator's or a map's output, an expanded grouping set each show up
  as an unknown id). Unary nodes keep each output row's passed-through
  values together, so both names always refer to one file row.

``is_exact`` is the DataFrame check: both columns carry the same token
(neither was replaced after the read) and the frame's plan passes
``plan_is_exact``.

Whatever cannot be checked (a failing JVM call, an unknown leaf) keeps
the refine: a wrong ``False`` costs one UDF stage, a wrong ``True``
would return wrong rows.
"""

from __future__ import annotations

import os
import re
import threading
import uuid
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

TOKEN_KEY = "geo_exact_covering"

# absolute path -> (size, mtime_ns, geometry column, covering column) of
# each part file whose footer vouched for an exact covering; least
# recently used files are forgotten past _MAX_FILES (a forgotten file
# only keeps the refine).
_MAX_FILES = 1 << 16
_VOUCHED: OrderedDict[str, tuple[int, int, str, str]] = OrderedDict()
_LOCK = threading.Lock()

_INT_MAX = 2**31 - 1


def mint(files: dict[str, tuple[int, int, str, str]]) -> str:
    """Record ``files`` (path -> (size, mtime_ns) when its footer was
    read, the geometry column and the covering column that holds its
    exact envelope) and return a fresh token for the read's columns."""
    with _LOCK:
        for f, entry in files.items():
            path = os.path.abspath(f)
            _VOUCHED[path] = entry
            _VOUCHED.move_to_end(path)
        while len(_VOUCHED) > _MAX_FILES:
            _VOUCHED.popitem(last=False)
    return uuid.uuid4().hex


def _vouched(uri: str, geometry_col: str, bbox_col: str) -> bool:
    u = urlparse(uri)
    if u.scheme not in ("", "file"):
        return False
    path = unquote(u.path)
    with _LOCK:
        entry = _VOUCHED.get(path)
    if entry is None:
        return False
    try:
        st = os.stat(path)
    except OSError:
        return False
    return entry == (st.st_size, st.st_mtime_ns, geometry_col, bbox_col)


def plan_is_exact(plan, geometry_col: str, bbox_col: str) -> bool:
    """True when, in the analyzed JVM ``plan``, every attribute named
    ``geometry_col`` or ``bbox_col`` holds one file row's geometry and
    its exact envelope (see the module docstring)."""
    try:
        tree = plan.treeString(False, False, _INT_MAX, False, False)
        lines = tree.rstrip("\n").split("\n")
        leaf = lines[-1].lstrip(" +-")
        if any(re.match(r"[ +\-]*:", ln) for ln in lines) or not leaf.startswith("Relation "):
            return False
        spelled = {}
        for name in (geometry_col, bbox_col):
            n = re.escape(name)
            attr = re.compile(rf"(?<![\w#.`])({n})#(\d+)", re.I)
            at_leaf = attr.findall(leaf)
            same_name = re.findall(rf"[\[,] ?{n}#(\d+) AS {n}#(\d+)", tree, re.I)
            if len(at_leaf) != 1 or len(same_name) != len(
                    re.findall(rf"\bAS {n}#\d+", tree, re.I)):
                return False
            known = {at_leaf[0][1]}
            for _ in same_name:
                known |= {b for a, b in same_name if a in known}
            if {i for _, i in attr.findall(tree)} - known:
                return False
            spelled[name] = at_leaf[0][0]  # as the files spell it
        scanned = plan.collectLeaves().head().relation().location().inputFiles()
        return len(scanned) > 0 and all(
            _vouched(u, spelled[geometry_col], spelled[bbox_col]) for u in scanned
        )
    except Exception:
        return False


def is_exact(df: DataFrame, geometry_col: str, bbox_col: str) -> bool:
    """True when ``bbox_col`` is known to hold, on every row of ``df``,
    the exact envelope of ``geometry_col`` (see the module docstring)."""
    fields = {f.name: f for f in df.schema.fields}
    if geometry_col not in fields or bbox_col not in fields:
        return False
    token = fields[geometry_col].metadata.get(TOKEN_KEY)
    if token is None or fields[bbox_col].metadata.get(TOKEN_KEY) != token:
        return False
    return plan_is_exact(df._jdf.queryExecution().analyzed(), geometry_col, bbox_col)
