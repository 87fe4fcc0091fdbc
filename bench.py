"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. If any query fails, it names the
failed queries on stderr, prints no JSON line and exits 1.

Timing = full query execution via the JVM-side noop sink
(``df.write.format("noop")``) so every row is produced but nothing
crosses to Python and nothing hits disk. Every query is warmed once
(full first pass) before the timed passes, so JVM startup, codegen
compilation, and parquet footer caching aren't billed to any query —
ratios against the (equally warm) DuckDB baseline stay honest.

``min_walls`` is that loop. The query-timing scripts under ``scripts/``
call it too; ``tests/test_bench_harness.py`` pins its contract and
which code may read the clock.

Measurement-bug fix (r15, per the r14 verdict): the Bloom bitmap memo
(`llm/selection.py::_BITMAP_CACHE`, keyed on the reference plan + data
fingerprint) let the warm pass pre-build the ~0.7 s model for
`bloom_decontaminate`/`contamination_check`, so the timed passes
skipped work the DuckDB oracle re-does every run. The cache is now
CLEARED before every timed invocation, so each timed pass computes the
model from the parquet inputs like everything else. (Production reuse
of the memo across calls is untouched — only the bench stops
benefiting from it.) r14 walls for the two affected rows predate this
fix: bloom_decontaminate 1.391 s, contamination_check 1.713 s in
BENCH_r14; expect ~+0.5-0.7 s each under the corrected contract.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections.abc import Callable
from functools import partial
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# Timed passes per row; each row keeps its minimum. Two absorb GC/JIT
# wobble (observed ±1 s on individual queries in a long-lived local
# JVM) without hiding real cost — every pass runs the full plan.
_TIMED_PASSES = 2


def _unpersist_above(spark, mark: int) -> None:
    # Each registry call builds fresh RDDs, so what it persisted is
    # garbage once its write returns. The ContextCleaner reclaims it
    # only after the py4j refs are GC'd, which lags a tight loop by
    # hundreds of calls; r11 measured the pinned blocks inflating
    # checkpoint-heavy rows 2-3.5x late in a run. RDDs persisted before
    # the call have ids <= mark and stay cached.
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in list(rdds.keys()):
        if rdd_id > mark:
            rdds[rdd_id].unpersist(False)


def min_walls(
    spark, builders: dict[str, Callable[[], DataFrame]]
) -> dict[str, float | None]:
    """Wall seconds per row: warm every row once, then time it in
    ``_TIMED_PASSES`` passes over all rows and keep its minimum.

    ``builders`` maps a row name to a zero-argument callable returning
    a DataFrame. The timer brackets the call plus a ``noop`` write of
    its result. Outside the timer, the Bloom bitmap memo is cleared
    before each timed invocation (see the module docstring), and the
    RDDs an invocation persisted are unpersisted after it. A row that
    raises has its traceback printed to stderr, maps to None and is not
    invoked again. Values keep the builders' order.
    """
    from ad_data_lake_spark.llm.selection import clear_bitmap_cache

    walls: dict[str, float | None] = {}
    live = list(builders)
    for timed in [False] + [True] * _TIMED_PASSES:
        for name in list(live):
            if timed:
                clear_bitmap_cache()
            mark = max(spark.sparkContext._jsc.getPersistentRDDs().keys(), default=-1)
            try:
                t0 = time.perf_counter()
                builders[name]().write.format("noop").mode("overwrite").save()
                wall = round(time.perf_counter() - t0, 3)
            except Exception:
                print(f"min_walls: {name} failed", file=sys.stderr, flush=True)
                traceback.print_exc()
                walls[name] = None
                live.remove(name)
            else:
                if timed:
                    walls[name] = min(walls.get(name, wall), wall)
            finally:
                _unpersist_above(spark, mark)
    return {name: walls[name] for name in builders}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("ad_data_lake_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # "write"-tagged queries exercise the lake write path; their DuckDB
    # oracle computes only the final state (no IO), so a wall-clock
    # ratio would be write+read vs pure agg — correctness-gated in
    # CORRECTNESS_r*.json but excluded from the bench headline.
    names = [n for n, s in REGISTRY.items() if "write" not in s.tags]
    skipped = [n for n in REGISTRY if n not in names]
    timings = min_walls(spark, {n: partial(REGISTRY[n].fn, spark, sf_dir) for n in names})
    failed = [n for n, t in timings.items() if t is None]
    if failed:
        print(f"bench: no total, {len(failed)} failed: {', '.join(failed)}", file=sys.stderr)
        spark.stop()
        return 1

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "skipped_write_path": skipped,
    }
    line = json.dumps(out)
    print(line)
    # Durable copy (r12 verdict #6): the driver's BENCH_r*.json capture
    # truncates the one-line JSON (parsed: null), losing the per-query
    # record; bench_results/ keeps it. Round tag from the env when the
    # driver exports one, else a plain latest-file.
    try:
        os.makedirs("bench_results", exist_ok=True)
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        # No max(BENCH_r*)+1 guessing (r13 ADVICE): re-runs after the
        # driver has already written the current round's BENCH_rN.json
        # would mis-tag the copy into the NEXT round's slot. Untagged
        # runs land in a stable "latest" file instead.
        tag = f"_r{rnd}" if rnd else "_latest"
        path = os.path.join("bench_results", f"bench_sf{sf}{tag}.json")
        with open(path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass  # bench output is the stdout line; the copy is best-effort
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
