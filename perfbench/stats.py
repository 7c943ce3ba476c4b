"""Pure summary helpers: percentiles, span self time, and Spark
status-store counters aggregated per job group. No Spark imports, so
the self-tests exercise them without a session."""

from __future__ import annotations

import statistics
from collections import defaultdict

TAIL_MIN_BEYOND = 10


def nearest_rank(values: list[float], p: int) -> float:
    """The p-th percentile by nearest rank: the smallest value with at
    least p % of the samples at or below it."""
    s = sorted(values)
    return s[max(1, _rank(p, len(s))) - 1]


def _rank(p: int, n: int) -> int:
    """ceil(p * n / 100) in integer arithmetic."""
    return -(-p * n // 100)


def tail_percentile(values: list[float], min_beyond: int = TAIL_MIN_BEYOND):
    """The highest whole percentile that has at least ``min_beyond``
    samples strictly above its rank, as ``(p, value, beyond)``; None
    when there are too few samples for any."""
    n = len(values)
    p = 100 * (n - min_beyond) // n if n else 0
    if p < 1:
        return None
    return p, nearest_rank(values, p), n - _rank(p, n)


def timing_summary(values: list[float]) -> dict:
    """Median and tail of a list of latencies, with the sample count."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_p"], out["tail"], out["tail_beyond"] = tail
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its children (overlapping children count once).
    Spans are dicts with ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per span name: summed self time, summed total time and count."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"self_s": 0.0, "total_s": 0.0, "count": 0})
        agg["self_s"] += st[s["id"]]
        agg["total_s"] += s["end"] - s["start"]
        agg["count"] += 1
    return out


STAGE_FIELDS = (
    "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "input_bytes", "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


def zero_counters() -> dict:
    return {"jobs": 0, "stages": 0, **dict.fromkeys(STAGE_FIELDS, 0)}


def aggregate_groups(jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Sum status-store stage counters per job group.

    ``jobs``: ``{"job_id", "group", "stage_ids"}`` records. ``stages``:
    stage id -> counters named in ``STAGE_FIELDS``. A stage listed by
    several jobs of one group (a reused shuffle) is counted once; a
    stage id missing from ``stages`` (skipped, it ran no tasks) is not
    counted."""
    out: dict[str, dict] = {}
    seen: dict[str, set[int]] = defaultdict(set)
    for job in jobs:
        g = job["group"]
        agg = out.setdefault(g, zero_counters())
        agg["jobs"] += 1
        for sid in job["stage_ids"]:
            if sid in seen[g] or sid not in stages:
                continue
            seen[g].add(sid)
            agg["stages"] += 1
            for f in STAGE_FIELDS:
                agg[f] += stages[sid].get(f, 0)
    return out
