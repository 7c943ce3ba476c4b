"""Seeded closed-loop benchmark of the geoparquet_python_spark engine.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. One client issues
ops back to back on ``local[<cores>]``; every op's result is checked
against an independent answer (DuckDB oracle or numpy truth). With
``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` it records spans and Spark status-store counters per op
and reports the per-layer metrics. A human-readable report precedes
the result, which is the last line of standard output:

    {"correct": true, "attempted": 14, "failed": 0, "metrics": {...}}

Everything the run writes stays under ``.bench_build/perfbench`` in
the checkout: the generated tables and cached oracle answers (reused by
later runs), the traces, and a per-run scratch directory that is
removed at exit. The exit status is non-zero, with no result line, when
the engine is missing or set-up fails.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat", "rb") as f:
        start_ticks = int(f.read().rsplit(b")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# Set-up time counts from process start: interpreter start-up until
# here, then the perf counter.
T_START = time.perf_counter()
AGE_AT_START = _process_age()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the names and units BENCHMARK.json lists.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "registry.build_s": "s/op",
    "registry.build_jobs": "jobs/op",
    "registry.derived_cache_dropped": "entries/op",
    "exact.released_checkpoints": "blocks/op",
    "spark.execute_s": "s/op",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.offjvm_s": "s/op",
    "spark.slot_utilization": "1",
    "spark.input_bytes": "B/op",
    "spark.input_records": "rows/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.rows_examined_per_result": "1",
    "check_s": "s/op",
    "geo_wkb.encode_points_rows_per_s": "rows/s",
    "geo_wkb.decode_points_rows_per_s": "rows/s",
    "geo_wkb.decode_rows_per_s": "rows/s",
    "geo_functions.st_point_rows_per_s": "rows/s",
    "geo_functions.st_envelope_rows_per_s": "rows/s",
    "geo_io.write_s": "s/write",
    "geo_io.files_written": "files/write",
    "geo_io.row_groups_written": "groups/write",
    "geo_io.bytes_written": "B/write",
    "geo_io.geo_metadata_s": "s/call",
    "geo_io.read_geoparquet_s": "s/call",
    "geo_io.row_groups_pruneable_ratio": "1",
    "geo_sqlrewrite.geo_sql_s": "s/call",
    "write_rows_per_s": "rows/s",
    "write.latency_p50_s": "s",
    "read.latency_p50_s": "s",
    "stored_bytes_per_row": "B/row",
    "trace.ops_per_s": "ops/s",
    "trace.latency_p50_s": "s",
    "trace.in_op_overhead_s": "s/op",
    "trace.counter_read_s": "s/op",
}


def _driver_mem() -> str:
    """A fifth of the box's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{min(4, max(1, kb // (5 * 1024 * 1024)))}g"


def _hygiene(work_dir: str, cores: int) -> None:
    """Environment set before the JVM starts: local[cores], a driver
    heap that fits the box, the checkout on the Python workers' path,
    no console progress bar, and every temp file inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work_dir)  # spark-warehouse/ and friends land here


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    import subprocess

    import procs

    from py4j.protocol import Py4JError

    kids = procs.descendants(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Py4JError:
        pass  # a signal broke the gateway mid-call; the JVM still exits below
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procs.wait_gone(kids)


class Run:
    """One benchmark run: set-up, warm-up, the timed closed loop, and
    the records and timings the metrics are computed from."""

    def __init__(self, args, work_root: str, work_dir: str):
        self.args = args
        self.work_root = work_root
        self.work_dir = work_dir
        self.cores = len(os.sched_getaffinity(0))
        self.records: list[dict] = []  # timed ops
        self.warm: list[dict] = []  # warm-up ops
        self.times: dict[str, float] = {}
        self.layer_extra: dict[str, float] = {}
        self.bases: dict[str, str] = {}  # metric -> what it was computed from
        self.spark = None
        self.rss = None
        self._groups = 0

    def _one(self, env, workload, op, timed: bool) -> dict:
        """Run one op: untimed cache clearing, the timed op with its
        check, then (traced runs) the op's Spark counters."""
        import counters
        from geoparquet_python_spark import registry
        from geoparquet_python_spark.functions import exact

        dropped = registry.clear_derived_caches()
        freed = exact.release_dead_checkpoints()
        index = self._groups
        self._groups += 1
        done = self.records if timed else self.warm
        op_id = f"{'t' if timed else 'w'}{len(done)}"
        with env.op_groups(index), env.tracer.op(
            op_id, workload=workload.name, query=op.name, seed=self.args.seed,
            index=len(done),
        ):
            self.rss.start_window()
            t0 = time.perf_counter()
            try:
                ok, rows, detail = workload.run(env, op)
            except Exception as e:  # a raising op is a failed op, never dropped
                ok, rows = False, 0
                lines = str(e).strip().splitlines()
                detail = f"{type(e).__name__}: {lines[0][:300] if lines else ''}"
            latency = time.perf_counter() - t0
        rec = {
            "id": op_id, "kind": op.kind, "name": op.name, "latency": latency,
            "ok": bool(ok), "rows": int(rows or 0), "detail": detail,
            "dropped": dropped, "freed": freed, "rss_peak": self.rss.window_peak(),
        }
        if env.tracer.enabled:
            t = time.perf_counter()
            rec["counters"] = counters.read_groups(env.spark.sparkContext, env.groups(index))
            rec["counter_read_s"] = time.perf_counter() - t
        workload.after(env, op, rec)
        if not ok:
            print(f"FAILED {op_id} {op.name}: {detail}", file=sys.stderr)
        done.append(rec)
        return rec

    def execute(self) -> None:
        import numpy as np

        import procs
        import tables
        import workloads
        from tracing import Tracer

        args = self.args
        self.workload = workload = workloads.WORKLOADS[args.workload]()
        self.tracer = tracer = Tracer(bool(args.trace))
        env = workloads.Env(None, tracer, self.work_dir, self.work_root, args.seed)
        excluded = 0.0  # data generation and oracle answers

        t = time.perf_counter()
        if workload.needs_tables:
            env.tables_dir = tables.ensure_tables(self.work_root)
        workload.prepare(env)
        self.times["data_s"] = time.perf_counter() - t
        excluded += self.times["data_s"]

        from geoparquet_python_spark import registry, session

        with tracer.span("session.get_spark"):
            t = time.perf_counter()
            self.spark = env.spark = session.get_spark("perfbench")
            self.times["get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rss = procs.RssSampler()
        self.rss.start()
        with tracer.span("registry.load_all"):
            t = time.perf_counter()
            registry.load_all()
            self.times["load_all_s"] = time.perf_counter() - t

        t = time.perf_counter()
        workload.prepare_oracles(env)
        self.times["oracle_s"] = time.perf_counter() - t
        excluded += self.times["oracle_s"]

        t = time.perf_counter()
        for op in workload.warmup_ops(np.random.default_rng([args.seed, 2])):
            self._one(env, workload, op, timed=False)
        self.times["warmup_s"] = time.perf_counter() - t
        self.times["setup_s"] = AGE_AT_START + time.perf_counter() - T_START - excluded

        rng = np.random.default_rng([args.seed, 1])
        cpu0 = _cpu_ticks()
        timed = 0.0
        group_s0 = env.group_calls_s
        while timed < args.seconds or len(self.records) < workloads.MIN_OPS:
            for op in workload.round(rng):
                timed += self._one(env, workload, op, timed=True)["latency"]
        self.times["group_calls_s"] = env.group_calls_s - group_s0
        cpu1 = _cpu_ticks()
        self.steal_share = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        self.rss.stop()

        if tracer.enabled:
            self.layer_extra = workload.layer_metrics()
            trace_dir = os.path.join(self.work_root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{workload.name}-seed{args.seed}.jsonl"))

    def close(self) -> None:
        if self.rss is not None:
            self.rss.stop()
        if self.spark is not None:
            _stop_session(self.spark)
            self.spark = None

    # -------------------------------------------------------- metrics

    def end_to_end(self) -> dict[str, float]:
        from stats import timing_summary

        lat = [r["latency"] for r in self.records]
        summ = timing_summary(lat)
        ok = sum(r["ok"] for r in self.records)
        self.bases["ops_per_s"] = f"{ok} correct ops / {sum(lat):.3f} s of op wall time"
        return {
            "setup_s": self.times["setup_s"],
            "ops_per_s": ok / sum(lat),
            "latency_p50_s": summ["p50"],
            "latency_tail_s": summ["tail"],
        }

    def side_metrics(self) -> dict[str, float]:
        """Memory and the read/write split. Every report prints them;
        they are per-layer metrics because they carry no bound: JVM heap
        sizing alone moves the RSS of a run by up to a third, and only
        geo_lake writes."""
        reads = [r for r in self.records if r["kind"] in ("read", "query")]
        writes = [r for r in self.records if r["kind"] == "write"]
        out = {
            "peak_rss_mb": statistics.median(r["rss_peak"] for r in self.records) / 2**20,
            "read.latency_p50_s": statistics.median(r["latency"] for r in reads) if reads else 0.0,
            "write.latency_p50_s": 0.0, "write_rows_per_s": 0.0, "stored_bytes_per_row": 0.0,
        }
        self.bases["peak_rss_mb"] = (
            f"median over n={len(self.records)} timed ops of each op's peak summed "
            "anonymous RSS of the driver Python, the JVM and the Python workers; "
            f"{self.rss.samples} samples every {self.rss.interval} s; whole-run peak "
            f"{self.rss.peak / 2**20:.1f} MB = "
            + ", ".join(f"{k} {v / 2**20:.1f}" for k, v in self.rss.peak_parts.items())
        )
        self.bases["read.latency_p50_s"] = f"median of n={len(reads)} read ops"
        if writes:
            rows = sum(r["rows"] for r in writes if r["ok"])
            secs = sum(r["latency"] for r in writes)
            stored = sum(r["bytes"] for r in writes)
            out["write.latency_p50_s"] = statistics.median(r["latency"] for r in writes)
            out["write_rows_per_s"] = rows / secs
            out["stored_bytes_per_row"] = stored / max(1, rows)
            self.bases["write.latency_p50_s"] = f"median of n={len(writes)} write ops"
            self.bases["write_rows_per_s"] = f"{rows} rows committed / {secs:.3f} s of write ops"
            self.bases["stored_bytes_per_row"] = f"{stored} part-file bytes / {rows} rows"
        return out

    def per_layer(self) -> dict[str, float]:
        from stats import STAGE_FIELDS, layer_totals

        recs = self.records
        n = len(recs)
        timed_ids = {r["id"] for r in recs}
        spans = self.tracer.spans
        layers = layer_totals([s for s in spans if s["op"] in timed_ids])
        setup = layer_totals([s for s in spans if s["op"] is None])

        def per_op(name):
            return layers.get(name, {}).get("total_s", 0.0) / n

        def per_call(name):
            agg = layers.get(name)
            return agg["total_s"] / agg["count"] if agg else 0.0

        spark = {f: 0 for f in ("jobs", "stages", *STAGE_FIELDS)}
        build_jobs = 0
        for r in recs:
            for group, c in r["counters"].items():
                for f in spark:
                    spark[f] += c[f]
                if group.endswith("-build"):
                    build_jobs += c["jobs"]
        lat = [r["latency"] for r in recs]
        reads = [r for r in recs if r["kind"] in ("read", "query")]
        writes = [r for r in recs if r["kind"] == "write"]
        read_input = sum(
            c["input_records"] for r in reads for c in r["counters"].values()
        )
        groups_seen = sum(r.get("row_groups", 0) for r in reads)
        w = max(1, len(writes))
        run_s = spark["executor_run_ms"] / 1e3
        cpu_s = spark["executor_cpu_ns"] / 1e9
        result_rows = sum(r["rows"] for r in reads)
        pruneable = sum(r.get("row_groups_pruneable", 0) for r in reads)
        self.bases.update({
            "spark.slot_utilization": f"{run_s:.3f} s executor run / ({sum(lat):.3f} s op wall x {self.cores} cores)",
            "spark.offjvm_s": f"({run_s:.3f} s executor run - {cpu_s:.3f} s JVM CPU) / {n} ops",
            "spark.rows_examined_per_result": f"{read_input} input records / {result_rows} result rows of {len(reads)} read ops",
            "geo_io.row_groups_pruneable_ratio": f"{pruneable} / {groups_seen} row groups over {len(reads)} reads",
            "trace.ops_per_s": f"{sum(r['ok'] for r in recs)} correct ops / {sum(lat):.3f} s",
        })
        out = {
            "session.get_spark_s": setup.get("session.get_spark", {}).get("total_s", 0.0),
            "registry.load_all_s": setup.get("registry.load_all", {}).get("total_s", 0.0),
            "registry.build_s": per_op("registry.build"),
            "registry.build_jobs": build_jobs / n,
            "registry.derived_cache_dropped": sum(r["dropped"] for r in recs) / n,
            "exact.released_checkpoints": sum(r["freed"] for r in recs) / n,
            "spark.execute_s": per_op("spark.execute"),
            "spark.jobs": spark["jobs"] / n,
            "spark.stages": spark["stages"] / n,
            "spark.tasks": spark["tasks"] / n,
            "spark.failed_tasks": spark["failed_tasks"],
            "spark.executor_run_s": run_s / n,
            "spark.executor_cpu_s": cpu_s / n,
            "spark.gc_s": spark["gc_ms"] / 1e3 / n,
            "spark.offjvm_s": (run_s - cpu_s) / n,
            "spark.slot_utilization": run_s / (sum(lat) * self.cores),
            "spark.input_bytes": spark["input_bytes"] / n,
            "spark.input_records": spark["input_records"] / n,
            "spark.shuffle_read_bytes": spark["shuffle_read_bytes"] / n,
            "spark.shuffle_write_bytes": spark["shuffle_write_bytes"] / n,
            "spark.spill_bytes": spark["spill_bytes"] / n,
            "spark.rows_examined_per_result": read_input / max(1, result_rows),
            "check_s": per_op("check"),
            **{k: 0.0 for k in PER_LAYER if k.startswith(("geo_wkb.", "geo_functions."))},
            "geo_io.write_s": per_call("geo_io.write_geoparquet"),
            "geo_io.files_written": sum(r["files"] for r in writes) / w,
            "geo_io.row_groups_written": sum(r["row_groups"] for r in writes) / w,
            "geo_io.bytes_written": sum(r["bytes"] for r in writes) / w,
            "geo_io.geo_metadata_s": per_call("geo_io.geo_metadata"),
            "geo_io.read_geoparquet_s": per_call("geo_io.read_geoparquet"),
            "geo_io.row_groups_pruneable_ratio": pruneable / groups_seen if groups_seen else 0.0,
            "geo_sqlrewrite.geo_sql_s": per_call("geo_sqlrewrite.geo_sql"),
            **self.side_metrics(),
            "trace.ops_per_s": sum(r["ok"] for r in recs) / sum(lat),
            "trace.latency_p50_s": statistics.median(lat),
            "trace.in_op_overhead_s": self.times["group_calls_s"] / n,
            "trace.counter_read_s": sum(r["counter_read_s"] for r in recs) / n,
        }
        out.update(self.layer_extra)
        return out

    # --------------------------------------------------------- report

    def report(self, metrics: dict[str, float], units: dict[str, str]) -> list[str]:
        """Human-readable lines: every metric with its unit, timings
        with their percentile and sample count, ratios with their base."""
        from stats import timing_summary

        a = self.args
        recs = self.records
        lat = [r["latency"] for r in recs]
        summ = timing_summary(lat)
        failed = sum(not r["ok"] for r in recs)
        t = self.times
        lines = [
            f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
            f"trace={a.trace} cores={self.cores} driver_mem={os.environ['SPARK_DRIVER_MEM']}",
            f"  set-up: get_spark {t['get_spark_s']:.3f} s, load_all {t['load_all_s']:.3f} s, "
            f"warm-up {t['warmup_s']:.3f} s over {len(self.warm)} ops; excluded: data "
            f"{t['data_s']:.3f} s, oracles {t['oracle_s']:.3f} s",
            f"  timed: {len(recs)} ops in {sum(lat):.3f} s of op wall time "
            f"(latency p50 over n={summ['n']}; tail = p{summ['tail_p']} with "
            f"{summ['tail_beyond']} of n={summ['n']} beyond)",
            f"  failed_ratio {failed / len(recs):.4f} 1 ({failed} failed / {len(recs)} attempted)",
            f"  host: {self.steal_share:.1%} of CPU time was stolen by the hypervisor "
            "during the timed ops (/proc/stat steal / all jiffies)",
        ]

        def line(name, value, unit):
            base = f"  ({self.bases[name]})" if name in self.bases else ""
            return f"  {name} = {value:.6g} {unit}{base}"

        if not self.tracer.enabled:  # traced runs list these with the layers
            lines += [line(k, v, PER_LAYER[k]) for k, v in self.side_metrics().items()]
        kinds: dict[str, list[float]] = {}
        for r in recs:
            kinds.setdefault(r["name"], []).append(r["latency"])
        for name, vals in sorted(kinds.items()):
            lines.append(f"  op {name}: n={len(vals)} p50={statistics.median(vals):.3f} s")
        if self.tracer.enabled:
            from stats import layer_totals

            timed_ids = {r["id"] for r in recs}
            spans = [s for s in self.tracer.spans if s["op"] in timed_ids]
            for name, agg in sorted(layer_totals(spans).items()):
                lines.append(
                    f"  span {name}: count={agg['count']} self={agg['self_s']:.3f} s "
                    f"total={agg['total_s']:.3f} s"
                )
        lines += [line(name, value, units[name]) for name, value in metrics.items()]
        return lines


def _remove_dead_runs(work_root: str) -> None:
    """Delete scratch directories of earlier runs that were killed."""
    for path in glob.glob(os.path.join(work_root, "run-*")):
        pid = path.rsplit("-", 1)[1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(path, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geoparquet_python_spark", "registry.py")):
        print(f"engine package geoparquet_python_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".bench_build", "perfbench")
    _remove_dead_runs(work_root)
    work_dir = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work_dir)
    # SIGTERM unwinds through the finally below, which stops Spark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Keep the result line alone on stdout: the JVM and the Python
    # workers inherit fd 1, so point it at stderr and print to a copy.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    cwd = os.getcwd()
    run = Run(args, work_root, work_dir)
    try:
        _hygiene(work_dir, run.cores)
        run.execute()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            run.close()
        finally:
            os.chdir(cwd)
            shutil.rmtree(work_dir, ignore_errors=True)

    if args.trace:
        metrics, units = run.per_layer(), PER_LAYER
    else:
        metrics, units = run.end_to_end(), END_TO_END
    for line in run.report(metrics, units):
        print(line, file=out)
    failed = sum(not r["ok"] for r in run.records)
    result = {
        "correct": failed == 0 and all(r["ok"] for r in run.warm),
        "attempted": len(run.records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
