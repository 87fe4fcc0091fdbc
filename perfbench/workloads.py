"""The three workloads: fixed op multisets run in a closed loop.

One client in one process sends the next call only after the previous
one returns. Every run executes the same multiset of ops per round over
the same tables (``gen.DATA_SEED``); the seed only orders a round's ops
(and, on ``lake_cdc``, picks the correction batches' keys and values). A run is ``warmup`` untimed rounds, then ``rounds``
timed rounds; the round count comes from ``--seconds`` and the
workload's nominal round time, never from how fast the program runs.

Outputs are checked outside every timer:

- ``report_reads`` / ``llm_curation``: the first warm-up round collects
  each op's result and compares it with the op's ``oracle_sql()`` run in
  DuckDB over the same parquet files;
- ``lake_cdc``: after every cycle, the current and the previous table
  versions are compared with a DuckDB last-wins and tombstone
  recomputation over the base plus the applied files.

A failed check or a raising op counts in ``failed``; nothing aborts the
run. The oracle's side of every check (the DuckDB query and the
comparison) is summed in ``Ctx.oracle_s``, so that set-up time can leave
it out; the op's own build and collect stay in.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import gen
import oracle

REPORT_OPS = (
    "hierarchy_flat", "agg_action_type", "agg_reach_frequency", "funnel_conversion",
    "cohort_retention", "scan_project", "filter_time_range", "semi_join_lookup",
    "pivot_action_metrics", "frequency_cap", "linear_attribution", "spend_pacing",
)
# dedup_minhash_lsh and bm25_retrieve are left out to fit the time budget:
# together they cost ~12 s of cold first call plus oracle per run and
# ~3 s per warm round (see README.md).
LLM_OPS = (
    "dedup_simhash", "dedup_exact", "gopher_rules", "quality_score", "lang_id",
    "pii_redact", "embed_topk_ivf",
)
LAKE_VACUUM_EVERY = 3  # cycles
LAKE_KEY, LAKE_ORDER, LAKE_TIEBREAK = "event_id", "ts", "value"


@dataclass
class Op:
    name: str
    kind: str  # "read" | "write" | "maintenance"
    run: Callable[[], None]
    after: Callable[[], None] | None = None  # traced mode, after the timer


@dataclass
class Check:
    """An output check, run outside the timers."""
    name: str
    run: Callable[[], str | None]  # error text, or None when the output matches


@dataclass
class Workload:
    name: str
    tables: tuple[str, ...]
    warmup: int  # untimed rounds (the first one carries the output checks)
    round_s: float  # nominal warm round time on the reference host
    ops: Callable[["Ctx", int], list[Op]]
    checks: Callable[["Ctx", int], list[Check]]  # checks after round i
    prepare: Callable[["Ctx"], None] = lambda ctx: None
    # lake_cdc checks the state its round's ops left; a registry
    # workload's check round replaces the ops
    checks_follow_ops: bool = False

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    sf: float
    tracer: object
    duck: object = None
    result_rows: dict[str, int] = field(default_factory=dict)
    lake: dict = field(default_factory=dict)
    oracle_s: float = 0.0  # time spent in the checks' oracle side

    @contextmanager
    def oracle_time(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.oracle_s += time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- registry workloads ------------------------------------------------------


def _registry_op(ctx: Ctx, name: str, spec, build_layer: str) -> Op:
    tr = ctx.tracer

    def run() -> None:
        with tr.span(build_layer):
            df = spec.fn(ctx.spark, ctx.data_dir)
        with tr.span("exec"):
            _noop(df)

    return Op(name, "read", run)


def _registry_check(ctx: Ctx, name: str, spec) -> Check:
    def run() -> str | None:
        got = spec.fn(ctx.spark, ctx.data_dir).toPandas()
        ctx.result_rows[name] = len(got)
        with ctx.oracle_time():
            return oracle.compare(got, ctx.duck.execute(spec.oracle).fetchdf())

    return Check(name, run)


def _shuffled(ctx: Ctx, names: tuple[str, ...], i: int) -> list[str]:
    order = list(names)
    random.Random(f"{ctx.seed}/{i}").shuffle(order)
    return order


def registry_workload(name: str, names: tuple[str, ...], tables, warmup: int,
                      round_s: float, build_layer: str, registry=None) -> Workload:
    """A fixed mix of registry ops (``queries.REGISTRY`` unless another
    mapping of name → spec with ``fn`` and ``oracle`` is given). Round 0
    is the check round; every other round runs the mix in a seeded
    order, each op written to ``noop``."""

    def specs():
        if registry is not None:
            return registry
        from ad_data_lake_spark.queries import REGISTRY

        return REGISTRY

    def ops(ctx: Ctx, i: int) -> list[Op]:
        reg = specs()
        return [_registry_op(ctx, n, reg[n], build_layer) for n in _shuffled(ctx, names, i)]

    def checks(ctx: Ctx, i: int) -> list[Check]:
        reg = specs()
        return [_registry_check(ctx, n, reg[n]) for n in _shuffled(ctx, names, i)] if i == 0 else []

    def prepare(ctx: Ctx) -> None:
        ctx.duck = oracle.connect(ctx.data_dir, tables)

    return Workload(name, tables, warmup, round_s, ops, checks, prepare)


# --- lake_cdc ------------------------------------------------------------------


def _lake_prepare(ctx: Ctx) -> None:
    from ad_data_lake_spark import incremental

    lk = ctx.lake
    lk["table"] = os.path.join(ctx.work_dir, "lake", "events")
    lk["src"] = os.path.join(ctx.work_dir, "lake_src")
    lk["ckpt"] = os.path.join(ctx.work_dir, "lake_ckpt")
    lk["inputs"] = os.path.join(ctx.work_dir, "lake_in")
    os.makedirs(lk["src"], exist_ok=True)
    base = gen.write_parquet(os.path.join(lk["inputs"], "base.parquet"), gen.lake_base(gen.DATA_SEED, ctx.sf))
    lk["applied"] = [base]  # upsert files, in order
    lk["corrections"] = []  # correction files, in order
    lk["next_id"] = gen.lake_base_rows(ctx.sf)
    df = ctx.spark.read.parquet(base)
    lk["schema"] = df.schema
    incremental.merge_upsert(ctx.spark, lk["table"], df, LAKE_KEY, LAKE_ORDER, LAKE_TIEBREAK)
    ctx.duck = oracle.connect(None, ())


def _lake_land(ctx: Ctx, cycle: int) -> tuple[str, str]:
    """Land the cycle's new-events file in the stream source and build
    its correction batch (outside the timers)."""
    lk = ctx.lake
    day = gen.lake_day(gen.DATA_SEED, ctx.sf, cycle, lk["next_id"])
    lk["next_id"] += day.num_rows
    tmp = gen.write_parquet(os.path.join(lk["inputs"], f"day-{cycle:04d}.parquet"), day)
    landed = os.path.join(lk["src"], f"day-{cycle:04d}.parquet")
    os.link(tmp, landed)  # appears whole in the source directory
    corr = gen.write_parquet(
        os.path.join(lk["inputs"], f"corr-{cycle:04d}.parquet"),
        gen.lake_corrections(ctx.seed, ctx.sf, cycle, lk["next_id"]),
    )
    return landed, corr


def _lake_ops(ctx: Ctx, cycle: int) -> list[Op]:
    from pyspark.sql import functions as F

    from ad_data_lake_spark import incremental
    from ad_data_lake_spark.streaming import incremental as streaming

    lk, tr, spark = ctx.lake, ctx.tracer, ctx.spark
    day, corr = _lake_land(ctx, cycle)

    def drain() -> None:
        with tr.span("streaming.drain"):
            stream = spark.readStream.schema(lk["schema"]).parquet(lk["src"])
            streaming.stream_merge_to_table(
                stream, lk["table"], lk["ckpt"], LAKE_KEY, LAKE_ORDER, LAKE_TIEBREAK
            )
        lk["applied"].append(day)

    def cdc() -> None:
        with tr.span("incremental.cdc_apply"):
            incremental.cdc_apply(
                spark, lk["table"], spark.read.parquet(corr), LAKE_KEY, LAKE_ORDER, LAKE_TIEBREAK
            )
        lk["corrections"].append(corr)

    def read_merged() -> None:
        with tr.span("incremental.read_merged"):
            df = incremental.read_merged(spark, lk["table"]).groupBy("event_type").agg(
                F.count("*").alias("events"), F.round(F.sum("value"), 2).alias("total_value"),
                F.countDistinct("user_id").alias("reach"),
            )
            with tr.span("exec"):
                _noop(df)

    def read_version() -> None:
        with tr.span("incremental.read_version"):
            df = incremental.read_version(spark, lk["table"], 1)
            with tr.span("exec"):
                _noop(df)

    def vacuum() -> None:
        with tr.span("incremental.vacuum"):
            incremental.vacuum(lk["table"])

    ops = [
        Op("stream_drain", "write", drain, lambda: _lake_write_stats(ctx, day)),
        Op("cdc_apply", "write", cdc, lambda: _lake_write_stats(ctx, corr)),
        Op("read_merged", "read", read_merged),
        Op("read_version", "read", read_version),
    ]
    if cycle % LAKE_VACUUM_EVERY == LAKE_VACUUM_EVERY - 1:
        # first in its cycle, so the cycle still leaves a previous version
        ops.insert(0, Op("vacuum", "maintenance", vacuum))
    return ops


def _lake_write_stats(ctx: Ctx, change_file: str) -> None:
    """Traced mode: how much of the table the last write rewrote. The
    version directory holds one ``_mb=<bucket>`` directory per bucket;
    files carried over from the previous version are hardlinks
    (``st_nlink > 1``), rewritten ones are new (``st_nlink == 1``)."""
    from ad_data_lake_spark import incremental

    tr = ctx.tracer
    vdir = os.path.join(ctx.lake["table"], incremental.lake_stats(ctx.lake["table"])["current_version"])
    for d in os.listdir(vdir):
        if not d.startswith("_mb="):
            continue
        tr.add("lake.buckets", 1)
        new = 0
        for root, _dirs, files in os.walk(os.path.join(vdir, d)):
            for f in files:
                st = os.stat(os.path.join(root, f))
                if f.endswith(".parquet") and st.st_nlink == 1:
                    new += st.st_size
        if new:
            tr.add("lake.buckets_rewritten", 1)
            tr.add("lake.bytes_written", new)
    tr.add("lake.change_bytes", os.path.getsize(change_file))


def _lake_checks(ctx: Ctx, cycle: int) -> list[Check]:
    from ad_data_lake_spark import incremental

    lk, spark = ctx.lake, ctx.spark

    def check(df, corrections: list[str]) -> str | None:
        got = df.select(*gen.LAKE_COLS).toPandas()
        with ctx.oracle_time():
            return oracle.compare_lake(got, ctx.duck, lk["applied"], corrections)

    def current() -> str | None:
        return check(incremental.read_merged(spark, lk["table"]), lk["corrections"])

    def previous() -> str | None:
        # the version before this cycle's cdc_apply: after its drain
        return check(incremental.read_version(spark, lk["table"], 1), lk["corrections"][:-1])

    return [Check("lake_current", current), Check("lake_previous", previous)]


WORKLOADS: dict[str, Workload] = {
    "report_reads": registry_workload(
        "report_reads", REPORT_OPS, gen.TABLES["report_reads"], warmup=2, round_s=6.0,
        build_layer="operators.build",
    ),
    "lake_cdc": Workload(
        "lake_cdc", gen.TABLES["lake_cdc"], warmup=2, round_s=3.0,
        ops=_lake_ops, checks=_lake_checks, prepare=_lake_prepare, checks_follow_ops=True,
    ),
    "llm_curation": registry_workload(
        "llm_curation", LLM_OPS, gen.TABLES["llm_curation"], warmup=2, round_s=4.0,
        build_layer="llm.build",
    ),
}


# --- the closed loop -----------------------------------------------------------


@dataclass
class Sample:
    op: str
    kind: str
    seconds: float
    ok: bool


@dataclass
class Outcome:
    samples: list[Sample] = field(default_factory=list)
    ops_run: int = 0
    checks: int = 0
    check_failures: list[str] = field(default_factory=list)
    op_failures: list[str] = field(default_factory=list)
    timed_wall_s: float = 0.0
    warm_round_s: list[float] = field(default_factory=list)
    timed_round_s: list[float] = field(default_factory=list)


def _run_checks(checks: list[Check], out: Outcome, log) -> float:
    t0 = time.perf_counter()
    for c in checks:
        out.checks += 1
        try:
            err = c.run()
        except Exception as e:  # a raising check is a failed check
            err = f"{type(e).__name__}: {e}"
            log(traceback.format_exc())
        if err:
            out.check_failures.append(f"{c.name}: {err}")
            log(f"CHECK FAILED {c.name}: {err}")
    return time.perf_counter() - t0


def run_rounds(ctx: Ctx, wl: Workload, start: int, n: int, timed: bool, out: Outcome, log) -> float:
    """Run rounds ``start .. start+n-1``; returns the time spent outside
    the ops (landing lake inputs, output checks, tracing reads), which
    the caller takes off the timed wall. A registry workload's round 0
    is its check round: each op is collected and compared instead of
    written to ``noop``."""
    tr = ctx.tracer
    tr.measuring = timed
    side = 0.0
    for i in range(start, start + n):
        r0 = time.perf_counter()
        checks = wl.checks(ctx, i)
        ops = wl.ops(ctx, i) if wl.checks_follow_ops or not checks else []
        r_side = time.perf_counter() - r0
        for k, op in enumerate(ops):
            tr.begin_op(f"r{i}.{k}.{op.name}")
            t0 = time.perf_counter()
            ok = True
            try:
                with tr.span("op"):
                    op.run()
            except Exception as e:
                ok = False
                out.op_failures.append(f"{op.name}: {type(e).__name__}: {e}")
                log(f"OP FAILED {op.name}:\n{traceback.format_exc()}")
            dt = time.perf_counter() - t0
            s0 = time.perf_counter()
            tr.end_op()
            if tr.enabled and op.after:
                op.after()
            r_side += time.perf_counter() - s0
            out.ops_run += 1
            if timed:
                out.samples.append(Sample(op.name, op.kind, dt, ok))
        r_side += _run_checks(checks, out, log)
        side += r_side
        if timed:
            out.timed_round_s.append(time.perf_counter() - r0 - r_side)
        else:
            out.warm_round_s.append(time.perf_counter() - r0)
    return side
