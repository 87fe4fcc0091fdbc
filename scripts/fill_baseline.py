"""Fill BASELINE.md's measurement table: DuckDB (oracle SQL) vs Spark
(registry query) per query, both engines warm.

Spark walls come from ``bench.min_walls``: the read rows (bench.py's
row set) in one call, then the ``write``-tagged rows in a second call,
so no write-path work runs between read-row timings. DuckDB walls come
from ``bench_scale.duckdb_timings`` (a spawned child process, run
before the Spark session starts) for the rows whose ratio the table
shows. If any row fails on either engine, the failed rows go to stderr,
BASELINE.md is left as it was and the exit status is 1; otherwise
everything below the ``<!-- bench-table -->`` marker is rewritten.

Usage: python scripts/fill_baseline.py  [sf_dir]
"""

from __future__ import annotations

import sys
from functools import partial
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import min_walls  # noqa: E402
from scripts.bench_scale import duckdb_timings  # noqa: E402

MARKER = "<!-- bench-table -->"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    # A "demo" row does extra work on purpose (e.g. skew salting's ×8
    # dim explode) that its plain-join oracle doesn't, and a "write" row
    # does real IO where its oracle computes only the final state: both
    # are correctness-comparable, but their wall-clock ratio is not.
    ratio_rows = [
        n for n, s in REGISTRY.items()
        if s.oracle is not None and not {"write", "demo"} & set(s.tags)
    ]
    duck, duck_threads = duckdb_timings(sf_dir, ratio_rows)

    spark = get_spark("fill-baseline")
    spark.sparkContext.setLogLevel("ERROR")
    reads = [n for n, s in REGISTRY.items() if "write" not in s.tags]
    writes = [n for n in REGISTRY if n not in reads]
    walls: dict[str, float | None] = {}
    for names in (reads, writes):
        walls |= min_walls(spark, {n: partial(REGISTRY[n].fn, spark, sf_dir) for n in names})
    master = spark.sparkContext.master
    spark.stop()

    failed = [f"{n} (Spark)" for n, s_t in walls.items() if s_t is None]
    failed += [f"{n} (DuckDB)" for n, d_t in duck.items() if d_t is None]
    if failed:
        print(f"fill_baseline: {len(failed)} failed, BASELINE.md unchanged: "
              f"{', '.join(failed)}", file=sys.stderr)
        return 1

    lines = [
        MARKER,
        "",
        f"Measured with Spark on {master} (AQE on, UTC session tz) and DuckDB",
        f"on {duck_threads} threads, sf_dir={sf_dir}. Both engines warm: each",
        "query runs once untimed, then the faster of two timed runs counts.",
        "Write-path rows are timed after all read rows. Queries without a",
        "DuckDB-expressible oracle show Spark time only.",
        "",
        "| Query | DuckDB (s) | Spark (s) | Ratio | Oracle |",
        "|---|---|---|---|---|",
    ]
    d_tot = s_tot = 0.0
    for name, spec in REGISTRY.items():
        s_t = walls[name]
        if "demo" in spec.tags:
            lines.append(
                f"| {name} | — | {s_t:.3f} | — | sql (technique demo vs plain-join oracle, excluded from total) |"
            )
        elif name in duck:
            d_t = duck[name]
            d_tot += d_t
            s_tot += s_t
            ratio = f"{s_t / d_t:.1f}×" if d_t > 1e-4 else "—"
            lines.append(f"| {name} | {d_t:.3f} | {s_t:.3f} | {ratio} | sql |")
        elif "write" in spec.tags:
            lines.append(f"| {name} | — | {s_t:.3f} | — | sql (write-path, excluded from total) |")
        else:
            lines.append(f"| {name} | — | {s_t:.3f} | — | rows-only |")
    lines.append(
        f"| **total (oracled)** | **{d_tot:.3f}** | **{s_tot:.3f}** "
        f"| **{s_tot / d_tot:.1f}×** | |"
    )
    lines.append("")

    path = REPO / "BASELINE.md"
    text = path.read_text()
    head = text.split(MARKER)[0].rstrip()
    path.write_text(head + "\n\n" + "\n".join(lines))
    print(f"total duckdb={d_tot:.2f}s spark={s_tot:.2f}s ratio={s_tot / d_tot:.2f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
