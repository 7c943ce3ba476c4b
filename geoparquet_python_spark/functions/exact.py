"""Order-independent (bit-exact) floating aggregates.

Spark computes double SUM/AVG with partial aggregation in arbitrary
partition order; DuckDB computes them single-threaded (and 100-TB runs
compute them in yet another order). IEEE double addition is not
associative, so raw double sums are not reproducible — an engine whose
correctness gate is a value-hash against an oracle (BASELINE.md) needs
order-independent aggregates.

Fix: accumulate in DECIMAL(38, scale). Decimal addition is exact, so
any summation order yields the same result; casting the (identical)
decimal back to DOUBLE yields the same double on any engine. The
double→decimal rounding of each input is also engine-agnostic: ties
(exact .5 ULP at the decimal scale) are not representable in binary
floating point for scale ≥ 1, so "round to nearest decimal" has a
unique answer regardless of tie-breaking mode.

This is also the right 100-TB posture: reruns and retries of a job
produce identical aggregates (deterministic pipelines are re-entrant).
The decimal path costs ~2× a double sum JVM-side — still whole-stage
codegen, no Python involved.
"""

from __future__ import annotations

import gc
import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 6
_DEC = f"decimal(38,{SCALE})"


def dsum(col: Column | str, alias: str) -> Column:
    """Exact SUM of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in
    double (IEEE division is exactly specified → engine-agnostic)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(_DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,{SCALE}))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB-side mirror of :func:`davg`."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(38,{SCALE}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def broadcast_narrow(df):
    """`F.broadcast` with a structural guard: refuse to hint-broadcast
    any relation carrying array/map/struct columns.

    An explicit broadcast hint overrides Spark's size threshold at ANY
    scale, so it must only ever be applied to relations that stay
    driver-sized — id lists, band keys, tiny dims of atomic columns. A
    relation that drags shingle arrays or embeddings into the hint is
    O(rows × payload) and OOMs the driver long before 100 TB (round-1
    VERDICT "What's wrong" #3). Wide payloads shuffle-join instead; AQE
    still converts small shuffle joins to broadcast at runtime, based
    on ACTUAL size — which is the scale-safe way to get the same plan.
    """
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            raise ValueError(
                f"broadcast_narrow: refusing to broadcast relation with "
                f"non-atomic column {f.name!r}: {f.dataType.simpleString()} "
                f"— shuffle-join the payload and broadcast only the keys"
            )
    return F.broadcast(df)


def broadcast_bounded(df, max_rows: int):
    """`F.broadcast` for relations that DO carry wide payload columns
    (embeddings, plane matrices) but are bounded by contract to a
    driver-safe row count — query/probe sets, codebooks, plane tables.

    `broadcast_narrow` structurally refuses these, and rightly so: the
    hint overrides Spark's size threshold at any scale. This helper is
    the one sanctioned escape hatch, and it enforces the contract at
    runtime: the relation is counted (cheap by definition for a bounded
    relation) and a violated bound fails LOUDLY at plan time instead of
    OOMing the driver mid-broadcast at 100 TB. Every broadcast hint in
    the repo goes through one of these two helpers (round-2 VERDICT
    "Next round" #7); plan tests keep the resulting join shapes honest.
    """
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"broadcast_bounded: relation has {n} rows, exceeding the "
            f"declared bound of {max_rows} — the payload-carrying "
            f"broadcast contract is violated; shuffle-join instead"
        )
    return F.broadcast(df)


def spread(df):
    """Repartition to the session's default parallelism ahead of a
    compute-bound projection (signature builds: minhash/simhash bit
    math, shingle explosion). Small local test files arrive as ONE
    input split, serializing the whole map side onto one core; at
    cluster scale input splits usually provide parallelism, but a
    compute-bound stage downstream of a narrow source (or a coalesced
    AQE stage) deserves the same treatment. The shuffled payload is
    the narrow pre-signature projection, not the signatures.

    Guarded (optimization r12): when the source already plans enough
    input splits to feed every core — the normal case at cluster
    scale, where a 100 TB table arrives as thousands of splits — the
    round-robin exchange is pure overhead and is skipped. The split
    probe reads the physical plan's partition count (driver-side
    split enumeration, no job). Round-robin repartition cannot change
    any result: every consumer is an aggregate/join keyed on data
    columns, and the round-robin sort makes it retry-deterministic.

    Probe cost (ADVICE r12, measured r13): getNumPartitions() does
    plan the query via the non-AQE path, but every spread() call site
    sits directly above a narrow source projection, where the probe
    measures 0.4 ms warm — cheaper than inputFiles() (1.2 ms) and far
    below one py4j Column construction budget, so no caching layer is
    warranted. The count can differ from what AQE later coalesces;
    the guard only needs the INPUT split count, which AQE never
    changes."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Checkpoint-block bookkeeping (round 12): localCheckpoint persists
# the materialized RDD in executor storage, and the blocks stay until
# the driver-side RDD object is GC'd AND ContextCleaner's async sweep
# runs. In a long benchmark session (50 queries × best-of-5, each
# construction checkpointing 1-3 frames) hundreds of DEAD checkpoints
# pile up faster than the async cleaner drains them — measured as the
# late-suite inflation pattern (r11: theil_sen 28×; r12: 9 of 11 bench
# regressions clustered at suite positions 39-47). The registry below
# pairs each checkpointed DataFrame's WEAKREF with its persisted JVM
# RDD handle so harnesses can release dead blocks deterministically
# between queries. Long-lived cross-query caches (_ENC_CACHE,
# _KNN_EDGE_CACHE) hold the materialized wrapper itself, so their
# weakrefs stay live and their blocks are never touched.
_LIVE_CHECKPOINTS: list = []


def materialize(df):
    """Cut lineage for a DataFrame that feeds BOTH sides of a self-join
    (signatures, banded sketches): without this Spark re-executes the
    producing pipeline once per branch. localCheckpoint materializes the
    partitions on the executors (eager, off the critical path of each
    branch). The 100 TB equivalent is an explicit parquet checkpoint of
    the signature table — same idea, durable."""
    out = df.localCheckpoint()
    try:
        # The checkpointed Dataset's analyzed plan is a LogicalRDD
        # wrapping the persisted RDD — grab the JVM handle for the
        # dead-checkpoint sweeper.
        jrdd = out._jdf.queryExecution().analyzed().rdd()
        _LIVE_CHECKPOINTS.append((weakref.ref(out), jrdd))
    except Exception:
        pass  # non-standard plan shape: fall back to async cleanup
    return out


def build_concurrently(*thunks):
    """Construct INDEPENDENT DataFrame legs from driver threads and
    return their results in thunk order (guide §2.6 "overlap
    independent jobs").

    Why: Spark happily runs several jobs at once inside one
    application — actions are only sequential because driver code
    calls them sequentially. A query whose legs each materialize()
    intermediates (localCheckpoint = an EAGER job) therefore
    serializes corpus passes that have no data dependency on each
    other: leg B's scan waits for leg A's checkpoint to finish even
    while most executors sit idle in A's stage tail. Building each leg
    in its own thread lets the FIFO scheduler back-fill freed
    executors with the other leg's tasks — a wall-clock win at any
    scale with spare capacity, with a byte-identical physical plan.

    Safety: SparkSession supports concurrent job submission from
    driver threads (documented; the guide's §2.6 pattern);
    InheritableThread is PySpark's sanctioned wrapper so JVM
    thread-local properties (job description/group) are inherited and
    cleaned up. The one shared Python-side structure these thunks
    touch, _LIVE_CHECKPOINTS, is only append()ed — atomic under the
    GIL. The CALLER contracts that thunks are independent: none may
    consume another's frames. Results are then identical to
    sequential construction (each leg's plan and checkpoint content
    depend only on its own inputs; pinned by
    tests/test_llm_ops.py::test_build_concurrently_matches_sequential).
    After all threads join, the failure of the LOWEST-index failing
    thunk is re-raised, whatever order the threads failed in; every
    other failure is attached to it as a note, so no leg's error is
    silently dropped and the reported error does not vary run to run."""
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: dict[int, BaseException] = {}

    def run(i, fn):
        try:
            results[i] = fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors[i] = e

    threads = [
        InheritableThread(target=run, args=(i, fn))
        for i, fn in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        first, *others = sorted(errors)
        for i in others:
            errors[first].add_note(f"thunk {i} also failed: {errors[i]!r}")
        raise errors[first]
    return results


def release_dead_checkpoints() -> int:
    """Unpersist localCheckpoint blocks whose Python DataFrame wrapper
    has been garbage-collected; returns how many were freed.

    SAFETY CONTRACT: call only BETWEEN queries (a derived DataFrame can
    outlive its materialized parent's Python wrapper WITHIN a query —
    its lineage is truncated at the checkpoint, so unpersisting
    mid-query would make recomputation impossible). Between bench /
    gate / weak-scaling queries every per-query frame is dead and the
    only live wrappers are the module caches, which hold the
    materialized DataFrame itself."""
    gc.collect()  # collect dropped wrappers so their weakrefs clear
    kept, freed = [], 0
    for ref, jrdd in _LIVE_CHECKPOINTS:
        if ref() is None:
            try:
                jrdd.unpersist(False)
                freed += 1
            except Exception:
                pass
        else:
            kept.append((ref, jrdd))
    _LIVE_CHECKPOINTS[:] = kept
    return freed
