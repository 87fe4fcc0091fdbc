"""Benchmark entry point.

    python3 perfbench/run.py --workload report_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's tables (from the
fixed ``gen.DATA_SEED``; ``--seed`` orders the ops and picks the lake's
corrections) into a scratch directory under the current directory, starts
one Spark session through the package's ``session.get_spark``, warms up,
runs the timed rounds, checks outputs, and prints one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and status-store reads and reports the
per-layer metrics; ``--trace-out PATH`` also writes its spans as JSON.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_PROC = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SLOTS = 3  # local[3]: see STEADINESS.md for the slot comparison
DRIVER_MEM = "3g"
SF = 0.1
TAIL_MIN_BEYOND = 10  # samples beyond the tail percentile
DEADLINE_S = 170


def percentile_tail(values: list[float]) -> float:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it: the (n-10)-th smallest value."""
    xs = sorted(values)
    return xs[max(0, len(xs) - TAIL_MIN_BEYOND - 1)]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _dir_bytes(path: str) -> int:
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def latencies(out) -> list[float]:
    """The latency pool. Maintenance (the lake's vacuum) is timed but
    kept out of it and out of the op count; incremental.vacuum_s
    reports it."""
    return [s.seconds for s in out.samples if s.kind != "maintenance"]


def end_to_end(out, setup_s: float) -> dict[str, float]:
    lat = latencies(out)
    writes = [s.seconds for s in out.samples if s.kind == "write"]
    reads = [s.seconds for s in out.samples if s.kind == "read"]
    p50 = _median(lat)
    attempted, failed = attempts(out)
    return {
        "setup_s": setup_s,
        "latency_p50_s": p50,
        "latency_tail_s": percentile_tail(lat),
        "throughput_ops_s": len(lat) / out.timed_wall_s,
        "ops_ok_ratio": 1.0 - failed / attempted,
        # a read-only workload has no table writes: both sides report
        # its overall median (see README.md)
        "write_latency_p50_s": _median(writes) if writes else p50,
        "read_latency_p50_s": _median(reads) if reads else p50,
    }


def attempts(out) -> tuple[int, int]:
    attempted = out.ops_run + out.checks
    failed = len(out.op_failures) + len(out.check_failures)
    return attempted, failed


def per_layer(ctx, out, tracer, session_start_s: float, wl_name: str) -> dict[str, float]:
    from tracing import self_times

    c = tracer.counters
    timed = [s for s in tracer.spans if s["timed"]]
    self_s = self_times(timed)
    total = {}
    for s in timed:
        total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"]
    loads = sum(1 for s in timed if s["name"] == "sources.tables.load")
    result_rows = sum(ctx.result_rows.get(s.op, 0) for s in out.samples)
    scan_rows = c.get("scan_rows", 0.0)
    lk = ctx.lake
    cycles = len(out.timed_round_s) if wl_name == "lake_cdc" else 0
    attempted, failed = attempts(out)
    m = {
        "session.start_s": session_start_s,
        "sources.tables.load_s": self_s.get("sources.tables.load", 0.0),
        "sources.tables.loads": float(loads),
        "sources.tables.jobs": c.get("sources.tables.jobs", 0.0),
        "operators.build_s": self_s.get("operators.build", 0.0),
        "operators.build_jobs": c.get("operators.build_jobs", 0.0),
        "exec.wall_s": c.get("exec.wall_s", 0.0),
        "exec.driver_gap_s": c.get("exec.driver_gap_s", 0.0),
        "exec.jobs": c.get("exec.jobs", 0.0),
        "exec.stages": c.get("exec.stages", 0.0),
        "exec.tasks": c.get("exec.tasks", 0.0),
        "exec.task_run_s": c.get("exec.task_run_s", 0.0),
        "exec.task_cpu_s": c.get("exec.task_cpu_s", 0.0),
        "exec.shuffle_read_bytes": c.get("exec.shuffle_read_bytes", 0.0),
        "exec.shuffle_write_bytes": c.get("exec.shuffle_write_bytes", 0.0),
        "exec.spill_bytes": c.get("exec.spill_bytes", 0.0),
        "exec.scan_s": c.get("exec.scan_s", 0.0),
        "exec.rows_examined_per_result_row": scan_rows / result_rows if result_rows else 0.0,
        "python.boot_s": c.get("python.boot_s", 0.0),
        "python.init_s": c.get("python.init_s", 0.0),
        "python.run_s": c.get("python.run_s", 0.0),
        "python.rows": c.get("python.rows", 0.0),
        "llm.build_s": self_s.get("llm.build", 0.0),
        "llm.build_jobs": c.get("llm.build_jobs", 0.0),
        "streaming.drain_s": total.get("streaming.drain", 0.0),
        "streaming.batches": c.get("streaming.batches", 0.0),
        "streaming.checkpoint_bytes": float(_dir_bytes(lk["ckpt"])) if lk else 0.0,
        "incremental.cdc_apply_s": total.get("incremental.cdc_apply", 0.0),
        "incremental.jobs_per_cycle": c.get("jobs", 0.0) / cycles if cycles else 0.0,
        "incremental.buckets_rewritten_ratio": (
            c.get("lake.buckets_rewritten", 0.0) / c["lake.buckets"] if c.get("lake.buckets") else 0.0),
        "incremental.bytes_written_per_change_byte": (
            c.get("lake.bytes_written", 0.0) / c["lake.change_bytes"] if c.get("lake.change_bytes") else 0.0),
        "incremental.read_merged_s": total.get("incremental.read_merged", 0.0),
        "incremental.read_version_s": total.get("incremental.read_version", 0.0),
        "incremental.vacuum_s": total.get("incremental.vacuum", 0.0),
        "incremental.space_per_live_byte": lake_space_ratio(lk) if lk else 0.0,
        "ops_failed_ratio": failed / attempted,
        "trace.latency_p50_s": _median(latencies(out)),
    }
    m.update(tracer.jvm_metrics())
    return m


def lake_space_ratio(lk: dict) -> float:
    from ad_data_lake_spark import incremental

    live = incremental.lake_stats(lk["table"])["n_bytes"]
    return _dir_bytes(lk["table"]) / live if live else 0.0


END_TO_END_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s", "throughput_ops_s": "ops/s",
    "ops_ok_ratio": "ratio", "write_latency_p50_s": "s", "read_latency_p50_s": "s",
}


def unit_of(name: str) -> str:
    """Per-layer units follow the name: ``_s`` seconds, ``_bytes``
    bytes, ``_mb`` MiB, ratios and per-unit figures ``ratio``, the rest
    counts."""
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MiB"
    if "ratio" in name or "_per_" in name:
        return "ratio"
    return "count"


def _set_env(root: str, work: str, slots: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package: they need the repo root on the path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # keep the JVM's temp files and perf data inside the scratch directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _install_wrappers(tracer) -> None:
    """Traced mode only: span the table loads the registries make and
    count the streaming sink's micro-batch merges."""
    from ad_data_lake_spark import incremental, queries
    from ad_data_lake_spark.llm import registry

    for mod in (queries, registry):
        inner = mod.load_table

        def load_table(spark, name, sf_dir=None, _inner=inner):
            with tracer.span("sources.tables.load"):
                return _inner(spark, name, sf_dir)

        mod.load_table = load_table

    merge = incremental.merge_upsert

    def merge_upsert(*a, **k):
        tracer.add("streaming.batches", 1)
        return merge(*a, **k)

    incremental.merge_upsert = merge_upsert


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run(args, root: str, work: str) -> dict:
    import gen
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS, Ctx, Outcome, run_rounds

    wl = WORKLOADS[args.workload]
    t_setup = time.perf_counter()
    data_dir = os.path.join(work, "data")
    gen.write_tables(data_dir, gen.DATA_SEED, args.sf, wl.tables)

    from ad_data_lake_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        if args.trace:
            _install_wrappers(tracer)
        ctx = Ctx(spark, data_dir, work, args.seed, args.sf, tracer)
        wl.prepare(ctx)
        out = Outcome()
        run_rounds(ctx, wl, 0, wl.warmup, False, out, log)
        # the checks' oracle side is harness time; their collects stay in
        setup_oracle_s = ctx.oracle_s
        setup_s = time.perf_counter() - t_setup - setup_oracle_s
        n = wl.rounds(args.seconds)
        t1 = time.perf_counter()
        side = run_rounds(ctx, wl, wl.warmup, n, True, out, log)
        out.timed_wall_s = time.perf_counter() - t1 - side
        log(f"{wl.name}: session {session_start_s:.2f}s, setup {setup_s:.2f}s "
            f"(+{setup_oracle_s:.2f}s oracle), warm rounds "
            f"{[round(x, 2) for x in out.warm_round_s]}, timed rounds "
            f"{[round(x, 2) for x in out.timed_round_s]}, {len(out.samples)} ops")
        by_op: dict[str, list[float]] = {}
        for smp in out.samples:
            by_op.setdefault(smp.op, []).append(smp.seconds)
        log("op medians " + json.dumps({k: round(_median(v), 4) for k, v in sorted(by_op.items())}))
        if args.trace:
            metrics = per_layer(ctx, out, tracer, session_start_s, wl.name)
            if args.trace_out:
                tracer.dump(args.trace_out)
        else:
            metrics = end_to_end(out, setup_s)
        attempted, failed = attempts(out)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers
    it forked) to exit: the JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", default=None, help="write the spans to this JSON file")
    p.add_argument("--sf", type=float, default=SF)
    p.add_argument("--slots", type=int, default=SLOTS)
    args = p.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "ad_data_lake_spark")):
        log(f"perfbench: no ad_data_lake_spark package under {root}; run from a checkout")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    if args.trace_out:
        args.trace_out = os.path.abspath(args.trace_out)
    sys.path.insert(0, root)

    def _deadline(_sig, _frm):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    def _terminate(_sig, _frm):
        raise SystemExit(143)  # unwinds through the cleanup below

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=os.getcwd())
    cwd = os.getcwd()
    try:
        _set_env(root, work, args.slots)
        os.chdir(work)  # stray relative-path files (warehouse, logs) land here
        result = run(args, root, work)
    finally:
        signal.alarm(0)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    log(f"perfbench: {args.workload} seed {args.seed} done in {time.perf_counter() - T_PROC:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
